"""Spatial-statistics & image-QA operators (round-3 batches, continued):

spatial stats — standard deviational ellipse (the ArcGIS directional-
                distribution primitive) from exact integer µdeg moments;
                emerging-hotspot classification (space-time-cube analog:
                per-cell Mann-Kendall trend × adaptive hot threshold)
image QA      — GLCM texture features (Haralick contrast/energy) and a
                codec-distortion audit (exact SSE of decoded vs ground
                truth — the decode path's bit-exactness proof) over REAL
                decoded raw/png/qb bytes

All oracle-gated exact (DuckDB twins); none is in the query registry
(spark_shp.registry holds only the paper's spatial path).  Reference parity: upstream shapefile-js is geometry ingest
(SURVEY.md §2.A [RECONSTRUCTED]); these extend the §6 analytics family.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import cells, fixtures

_ = np  # numpy used by tests importing this module's constants


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- std_dev_ellipse: directional distribution of event points -------------------
#
# The standard deviational ellipse (mean center, orientation, major/minor
# axis) per event type — the GIS "directional distribution" tool.  Points
# quantize to exact µdeg integers, so every moment (n, Sx, Sy, Sxx, Syy,
# Sxy) is an exact DECIMAL(38,0)/int64 aggregate at ANY aggregation order
# (Sxx ~ 3e21 at 100M rows — past int64, exact in DECIMAL); the ellipse
# parameters compose the moments in ONE literal float expression shared
# verbatim with the oracle (the spatial_autocorr determinism rule), with
# ATAN2/SQRT under the repo's round-6 libm guard.

_EV_UDEG = (f"CAST(FLOOR(({fixtures.EVENT_LON_SQL}) * 1000000.0) AS BIGINT)",
            f"CAST(FLOOR(({fixtures.EVENT_LAT_SQL}) * 1000000.0) AS BIGINT)")

_VX = "((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / n)"
_VY = "((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / n)"
_CXY = "((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / n)"
_DISC = (f"SQRT(({_VX} - {_VY}) * ({_VX} - {_VY}) "
         f"+ 4.0 * {_CXY} * {_CXY})")

_ELLIPSE_OUT = (
    "CAST(n AS BIGINT) AS n_events",
    "ROUND(CAST(sx AS DOUBLE) / n, 6) AS cx_udeg",
    "ROUND(CAST(sy AS DOUBLE) / n, 6) AS cy_udeg",
    f"ROUND(0.5 * ATAN2(2.0 * {_CXY}, {_VX} - {_VY}), 6) AS theta",
    f"ROUND(SQRT(GREATEST(({_VX} + {_VY} + {_DISC}) / 2.0, 0.0)), 6) "
    "AS sigma_major",
    f"ROUND(SQRT(GREATEST(({_VX} + {_VY} - {_DISC}) / 2.0, 0.0)), 6) "
    "AS sigma_minor",
)


def q_std_dev_ellipse(spark, sf_dir):
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type AS g",
        f"{_EV_UDEG[0]} AS ix", f"{_EV_UDEG[1]} AS iy")
    m = e.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ix").alias("sx"), F.sum("iy").alias("sy"),
        F.expr("SUM(CAST(ix AS DECIMAL(38, 0)) * ix)").alias("sxx"),
        F.expr("SUM(CAST(iy AS DECIMAL(38, 0)) * iy)").alias("syy"),
        F.expr("SUM(CAST(ix AS DECIMAL(38, 0)) * iy)").alias("sxy"))
    return m.selectExpr("g", *_ELLIPSE_OUT)


ORACLE_ELLIPSE = f"""
WITH e AS (
  SELECT event_type AS g,
         {_EV_UDEG[0]} AS ix, {_EV_UDEG[1]} AS iy
  FROM events),
m AS (
  SELECT g, COUNT(*) AS n, SUM(ix) AS sx, SUM(iy) AS sy,
         SUM(CAST(ix AS DECIMAL(38, 0)) * ix) AS sxx,
         SUM(CAST(iy AS DECIMAL(38, 0)) * iy) AS syy,
         SUM(CAST(ix AS DECIMAL(38, 0)) * iy) AS sxy
  FROM e GROUP BY 1)
SELECT g, {', '.join(_ELLIPSE_OUT)}
FROM m
"""


# --- codec_distortion: decoded-vs-ground-truth error audit ------------------------
#
# Decode REAL raw/png/qb bytes and compare to the generator formula
# P(y,x,c) = mix(i·1000003 + y·4096 + x·4 + c) % 256.  Lossless formats
# must report sse = 0 (the decode path's bit-exactness proof, now a gated
# row, not just a pytest); the lossy qb codec stores (P >> 2) << 2 | 2,
# so its per-pixel error is exactly (P % 4) − 2 and the oracle rebuilds
# the SSE by lattice sums.  PSNR composes the exact integers in one
# round-6 literal; an i-weighted checksum pins errors to the right image.

DIST_N = 24          # ids 0..23 — all three formats


def q_codec_distortion(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, DIST_N, partitions=4)
    d = multimodal.distortion_checksums(img)
    withi = d.selectExpr(
        "n_px", "sse", "max_err",
        "CAST(substr(image_id, 4) AS BIGINT) AS i",
        "CASE (CAST(substr(image_id, 4) AS BIGINT) % 3) WHEN 0 THEN 'raw' "
        "WHEN 1 THEN 'png' ELSE 'qb' END AS fmt")
    return (withi.groupBy("fmt")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_px").alias("n_pixels"),
                 F.sum("sse").alias("total_sse"),
                 F.max("max_err").alias("worst_err"),
                 F.expr("SUM(sse * (i + 3))").alias("checksum"))
            .selectExpr(
                "fmt", "CAST(n_images AS BIGINT) AS n_images",
                "CAST(n_pixels AS BIGINT) AS n_pixels",
                "CAST(total_sse AS BIGINT) AS total_sse",
                "CAST(worst_err AS BIGINT) AS worst_err",
                "CAST(checksum AS BIGINT) AS checksum",
                "CASE WHEN total_sse = 0 THEN CAST(NULL AS DOUBLE) "
                "ELSE ROUND(10.0 * LOG10(65025.0 * n_pixels / total_sse), 6) "
                "END AS psnr_db"))


def _oracle_distortion() -> str:
    from .hashing import mix_sql
    m = fixtures.images_meta_sql("i")
    px = mix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + cc.c")
    return f"""
WITH imgs AS (
  SELECT i, {m['w']} AS w, {m['h']} AS h, {m['fmt']} AS fmt
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {DIST_N - 1})) AS i) t),
pix AS (
  SELECT i, fmt,
         CASE WHEN fmt = 'qb' THEN (({px}) % 256) % 4 - 2 ELSE 0 END AS err
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) xx,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc),
per AS (
  SELECT i, fmt, COUNT(*) AS n_px, SUM(err * err) AS sse,
         MAX(ABS(err)) AS max_err
  FROM pix GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_px) AS BIGINT) AS n_pixels,
       CAST(SUM(sse) AS BIGINT) AS total_sse,
       CAST(MAX(max_err) AS BIGINT) AS worst_err,
       CAST(SUM(sse * (i + 3)) AS BIGINT) AS checksum,
       CASE WHEN SUM(sse) = 0 THEN CAST(NULL AS DOUBLE)
       ELSE ROUND(10.0 * LOG10(65025.0 * SUM(n_px) / SUM(sse)), 6)
       END AS psnr_db
FROM per GROUP BY 1
"""


# --- glcm_texture: Haralick co-occurrence texture features ------------------------
#
# Horizontal (0,1)-offset gray-level co-occurrence over pixels quantized
# to 8 levels, per channel: contrast = Σ count·(i−j)² and energy =
# Σ count² are exact int64 per image, aggregated per format with an
# i-weighted checksum.  qb images decode to (P>>2)<<2 | 2, so even the
# lossy format's texture is exactly reproducible by the oracle's lattice
# pair sums.  The Spark side runs the REAL decode (multimodal kernel).

GLCM_N = 24
GLCM_LEVELS = 8


def q_glcm_texture(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, GLCM_N, partitions=4)
    g = multimodal.glcm_checksums(img, levels=GLCM_LEVELS)
    withi = g.selectExpr(
        "n_pairs", "contrast", "energy",
        "CAST(substr(image_id, 4) AS BIGINT) AS i",
        "CASE (CAST(substr(image_id, 4) AS BIGINT) % 3) WHEN 0 THEN 'raw' "
        "WHEN 1 THEN 'png' ELSE 'qb' END AS fmt")
    return (withi.groupBy("fmt")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_pairs").alias("n_pairs"),
                 F.sum("contrast").alias("contrast"),
                 F.sum("energy").alias("energy"),
                 F.expr("SUM(contrast * (i + 5))").alias("checksum"))
            .selectExpr("fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_pairs AS BIGINT) AS n_pairs",
                        "CAST(contrast AS BIGINT) AS contrast",
                        "CAST(energy AS BIGINT) AS energy",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_glcm() -> str:
    from .hashing import mix_sql
    m = fixtures.images_meta_sql("i")
    shift = 256 // GLCM_LEVELS
    pl = mix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + cc.c")
    pr = mix_sql("i * 1000003 + yy.y * 4096 + (xx.x + 1) * 4 + cc.c")
    # decoded value per fmt: qb quantizes to FLOOR(P/4)*4 + 2
    dl = (f"CASE WHEN fmt = 'qb' THEN CAST(FLOOR((({pl}) % 256) / 4.0) "
          f"AS BIGINT) * 4 + 2 ELSE ({pl}) % 256 END")
    dr = (f"CASE WHEN fmt = 'qb' THEN CAST(FLOOR((({pr}) % 256) / 4.0) "
          f"AS BIGINT) * 4 + 2 ELSE ({pr}) % 256 END")
    return f"""
WITH imgs AS (
  SELECT i, {m['w']} AS w, {m['h']} AS h, {m['fmt']} AS fmt
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {GLCM_N - 1})) AS i) t),
pairs AS (
  SELECT i, fmt,
         CAST(FLOOR(({dl}) / {float(shift)!r}) AS BIGINT) AS ql,
         CAST(FLOOR(({dr}) / {float(shift)!r}) AS BIGINT) AS qr
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 2)) AS x) xx,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc),
cooc AS (
  SELECT i, fmt, ql, qr, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2, 3, 4),
per AS (
  SELECT i, fmt, SUM(cnt) AS n_pairs,
         SUM(cnt * (ql - qr) * (ql - qr)) AS contrast,
         SUM(cnt * cnt) AS energy
  FROM cooc GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_pairs) AS BIGINT) AS n_pairs,
       CAST(SUM(contrast) AS BIGINT) AS contrast,
       CAST(SUM(energy) AS BIGINT) AS energy,
       CAST(SUM(contrast * (i + 5)) AS BIGINT) AS checksum
FROM per GROUP BY 1
"""


# --- emerging_hotspots: space-time-cube trend classification ----------------------
#
# The "emerging hot spot analysis" analog: per level-6 cell, a
# Mann-Kendall trend S over the DAILY count series (exact integer pair
# signs), crossed with an adaptive hot threshold (cell total ≥ 2× the
# mean occupied-cell total, compared as integers cross-multiplied — no
# float boundary).  Every post-agg set is bounded by lattice × day-span,
# never by corpus size; the pair join is per-cell over ≤ span days.

HOT_LVL = 6


def q_emerging_hotspots(spark, sf_dir):
    cell = cells.cell_sql(f"({fixtures.EVENT_LON_SQL})",
                          f"({fixtures.EVENT_LAT_SQL})", HOT_LVL)
    daily = (_t(spark, sf_dir, "events")
             .selectExpr(f"{cell} AS cell",
                         "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ))"
                         " / 86400000000) AS BIGINT) AS d")
             .groupBy("cell", "d").agg(F.count(F.lit(1)).alias("c")))
    tot = daily.groupBy("cell").agg(F.sum("c").alias("total"))
    grand = tot.agg(F.sum("total").alias("gt"),
                    F.count(F.lit(1)).alias("nc"))
    a, b = daily.alias("a"), daily.alias("b")
    s = (a.join(b, (F.col("a.cell") == F.col("b.cell"))
                & (F.col("a.d") < F.col("b.d")))
         .selectExpr("a.cell AS cell",
                     "CASE WHEN b.c > a.c THEN 1 "
                     "WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn")
         .groupBy("cell").agg(F.sum("sgn").alias("s")))
    per = (tot.join(s, "cell", "left")
           .crossJoin(F.broadcast(grand))
           .selectExpr("cell", "total",
                       "COALESCE(s, 0) AS s",
                       "CASE WHEN total * nc >= 2 * gt THEN 1 ELSE 0 END "
                       "AS hot"))
    return (per.selectExpr(
        "hot",
        "CASE WHEN s > 0 THEN 'up' WHEN s < 0 THEN 'down' ELSE 'flat' END "
        "AS trend", "total", "s", "cell")
        .groupBy("hot", "trend")
        .agg(F.count(F.lit(1)).alias("n_cells"),
             F.sum("total").alias("n_events"),
             F.sum("s").alias("sum_s"),
             F.sum("cell").alias("checksum"))
        .selectExpr("CAST(hot AS INT) AS hot", "trend",
                    "CAST(n_cells AS BIGINT) AS n_cells",
                    "CAST(n_events AS BIGINT) AS n_events",
                    "CAST(sum_s AS BIGINT) AS sum_s",
                    "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_hotspots() -> str:
    cell = cells.cell_sql(f"({fixtures.EVENT_LON_SQL})",
                          f"({fixtures.EVENT_LAT_SQL})", HOT_LVL)
    return f"""
WITH daily AS (
  SELECT {cell} AS cell,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2),
tot AS (SELECT cell, SUM(c) AS total FROM daily GROUP BY 1),
grand AS (SELECT SUM(total) AS gt, COUNT(*) AS nc FROM tot),
s AS (
  SELECT a.cell,
         SUM(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END)
           AS s
  FROM daily a JOIN daily b ON a.cell = b.cell AND a.d < b.d
  GROUP BY 1),
per AS (
  SELECT tot.cell, tot.total, COALESCE(s.s, 0) AS s,
         CASE WHEN tot.total * grand.nc >= 2 * grand.gt THEN 1 ELSE 0 END
           AS hot
  FROM tot LEFT JOIN s ON tot.cell = s.cell CROSS JOIN grand)
SELECT CAST(hot AS INT) AS hot,
       CASE WHEN s > 0 THEN 'up' WHEN s < 0 THEN 'down' ELSE 'flat' END
         AS trend,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(total) AS BIGINT) AS n_events,
       CAST(SUM(s) AS BIGINT) AS sum_s,
       CAST(SUM(cell) AS BIGINT) AS checksum
FROM per GROUP BY 1, 2
"""


QUERIES: dict = {
    "std_dev_ellipse": (q_std_dev_ellipse, ORACLE_ELLIPSE),
    "codec_distortion": (q_codec_distortion, _oracle_distortion()),
    "glcm_texture": (q_glcm_texture, _oracle_glcm()),
    "emerging_hotspots": (q_emerging_hotspots, _oracle_hotspots()),
}


# --- strahler_order: stream ordering over the D8 flow forest ----------------------
#
# The third hydrology primitive after direction/accumulation/watershed:
# Strahler order — leaves are order 1; a cell's order is the max of its
# upstream orders, +1 when >= 2 upstream cells attain that max.  The DP
# from all-ones is MONOTONE non-decreasing on the acyclic D8 forest, so
# Spark iterates (one upstream agg + one count-at-max join per round,
# localCheckpoint keeps the plan O(1) deep, the driver holds ONE
# convergence scalar) until the order sum is stable = the least fixed
# point.  The oracle unrolls STR_ROUNDS rounds as chained CTEs — the
# kcore trick: pytest proves the fixture converges inside the bound at
# every gate SF, so the bounded result IS the Strahler order.  All sets
# are grid-bounded (level-4 lattice), never corpus-bounded.

STR_ROUNDS = 12


def q_strahler_order(spark, sf_dir):
    from .queries_mining import _flow_cells, _flow_next_exprs
    nx, ny = _flow_next_exprs()
    base = (_flow_cells(spark, sf_dir)
            .selectExpr("tx", "ty", f"{nx} AS nx", f"{ny} AS ny")
            .localCheckpoint())
    occ = base.select("tx", "ty")
    edges = (base.where("nx IS NOT NULL")
             .join(occ.selectExpr("tx AS ox", "ty AS oy"),
                   (F.col("nx") == F.col("ox")) & (F.col("ny") == F.col("oy")),
                   "leftsemi")
             .select("tx", "ty", "nx", "ny").localCheckpoint())
    ordd = occ.selectExpr("tx", "ty", "CAST(1 AS BIGINT) AS o") \
              .localCheckpoint()
    prev = ordd.count()          # sum(o) at round 0: every o = 1
    for _ in range(STR_ROUNDS):
        up = ordd.join(edges, ["tx", "ty"]).selectExpr("nx", "ny", "o")
        mx = up.groupBy("nx", "ny").agg(F.max("o").alias("m"))
        cnt = (up.join(mx, ["nx", "ny"]).where("o = m")
               .groupBy("nx", "ny", "m").agg(F.count(F.lit(1)).alias("k")))
        ordd = (occ.join(cnt, (occ.tx == cnt.nx) & (occ.ty == cnt.ny),
                         "left")
                .selectExpr("tx", "ty",
                            "COALESCE(CASE WHEN k >= 2 THEN m + 1 "
                            "ELSE m END, CAST(1 AS BIGINT)) AS o")
                .localCheckpoint())
        total = ordd.agg(F.sum("o")).first()[0]
        if total == prev:        # monotone non-decreasing -> fixed point
            break
        prev = total
    return (ordd.groupBy("o")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.expr("SUM(tx * 16 + ty)").alias("checksum"))
            .selectExpr("CAST(o AS BIGINT) AS strahler",
                        "CAST(n_cells AS BIGINT) AS n_cells",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_strahler() -> str:
    from .queries_mining import _flow_next_exprs, _flow_oracle_cte
    nx, ny = _flow_next_exprs()
    rounds = []
    for r in range(1, STR_ROUNDS + 1):
        p = f"o{r - 1}"
        # MATERIALIZED (DuckDB-only syntax; the oracle never runs in
        # Spark): each round references the previous one several times,
        # and inlined CTEs would re-execute the whole chain per reference
        # — ~4^rounds parquet scans (observed as an fd blowup)
        rounds.append(f"""up{r} AS MATERIALIZED (
  SELECT e.nx, e.ny, o.o FROM edges e
  JOIN {p} o ON o.tx = e.tx AND o.ty = e.ty),
mx{r} AS MATERIALIZED (SELECT nx, ny, MAX(o) AS m FROM up{r} GROUP BY 1, 2),
cnt{r} AS MATERIALIZED (
  SELECT u.nx, u.ny, m.m, COUNT(*) AS k
  FROM up{r} u JOIN mx{r} m ON u.nx = m.nx AND u.ny = m.ny
  WHERE u.o = m.m GROUP BY 1, 2, 3),
o{r} AS MATERIALIZED (
  SELECT d.tx, d.ty,
         COALESCE(CASE WHEN c.k >= 2 THEN c.m + 1 ELSE c.m END,
                  CAST(1 AS BIGINT)) AS o
  FROM o0 d LEFT JOIN cnt{r} c ON c.nx = d.tx AND c.ny = d.ty)""")
    chain = ",\n".join(rounds)
    return f"""
WITH {_flow_oracle_cte()},
nextp AS MATERIALIZED (
  SELECT tx, ty, {nx} AS nx, {ny} AS ny FROM dirs),
edges AS MATERIALIZED (
  SELECT n.tx, n.ty, n.nx, n.ny FROM nextp n
  WHERE n.nx IS NOT NULL
    AND EXISTS (SELECT 1 FROM nextp o WHERE o.tx = n.nx AND o.ty = n.ny)),
o0 AS MATERIALIZED (SELECT tx, ty, CAST(1 AS BIGINT) AS o FROM dirs),
{chain}
SELECT CAST(o AS BIGINT) AS strahler, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(tx * 16 + ty) AS BIGINT) AS checksum
FROM o{STR_ROUNDS} GROUP BY 1
"""


# --- zipf_fit: rank-frequency power-law audit of the token distribution -----------
#
# The Zipf-law corpus audit (is the token distribution natural-language-
# shaped?): OLS of ln(freq) on ln(rank) over the top-N terms.  Rank ties
# break on the term string so the top-N set is engine-independent; both
# logs are ROUND-6 then snapped to exact 1e-6-scaled int64s (the repo's
# libm guard), so every OLS moment is an exact integer aggregate and
# slope/intercept/R^2 are literal float compositions.  One token-count
# shuffle; everything after the term aggregate is N rows.

ZIPF_TOPN = 200

_ZQ = ("CAST(FLOOR(ROUND(LN(rank), 6) * 1000000.0 + 0.5) AS BIGINT)",
       "CAST(FLOOR(ROUND(LN(freq), 6) * 1000000.0 + 0.5) AS BIGINT)")

_ZSLOPE = ("((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / "
           "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))")
_ZIPF_OUT = (
    "CAST(n AS BIGINT) AS n_terms",
    # + 0.0 normalizes IEEE negative zero: a near-flat fit rounds to -0.0
    # on one engine and +0.0 on the other (observed at sf0.01)
    # slope is dimensionless (x and y share the 1e-6 scale — it cancels);
    # only the intercept is in y units and needs unscaling
    f"ROUND({_ZSLOPE}, 6) + 0.0 AS slope",
    f"ROUND((CAST(sy AS DOUBLE) - {_ZSLOPE} * sx) / n / 1000000.0, 6) + 0.0 "
    "AS intercept",
    "ROUND(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) * "
    "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) / "
    "((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * "
    "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS r_squared",
)


def q_zipf_fit(spark, sf_dir):
    freq = (_t(spark, sf_dir, "documents")
            .select(F.explode(F.split("text", " ")).alias("term"))
            .groupBy("term").agg(F.count(F.lit(1)).alias("freq")))
    top = freq.selectExpr(
        "term", "freq",
        "ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank") \
        .where(f"rank <= {ZIPF_TOPN}")
    pts = top.selectExpr(f"{_ZQ[0]} AS x", f"{_ZQ[1]} AS y")
    m = pts.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.expr("SUM(x * x)").alias("sxx"),
        F.expr("SUM(x * y)").alias("sxy"),
        F.expr("SUM(y * y)").alias("syy"))
    return m.selectExpr(*_ZIPF_OUT)


ORACLE_ZIPF = f"""
WITH toks AS (
  SELECT UNNEST(string_split(text, ' ')) AS term FROM documents),
freq AS (SELECT term, COUNT(*) AS freq FROM toks GROUP BY 1),
top AS (
  SELECT term, freq, ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank
  FROM freq QUALIFY rank <= {ZIPF_TOPN}),
pts AS (SELECT {_ZQ[0]} AS x, {_ZQ[1]} AS y FROM top),
m AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM pts)
SELECT {', '.join(_ZIPF_OUT)}
FROM m
"""


QUERIES.update({
    "strahler_order": (q_strahler_order, _oracle_strahler()),
    "zipf_fit": (q_zipf_fit, ORACLE_ZIPF),
})


# --- hist_equalize: histogram equalization over real decoded bytes ----------------
#
# The contrast-normalization pass: per image, pool channels, build the
# 256-bin CDF, remap e = FLOOR((cdf(v) − cdf_min)·255 / (n_px − cdf_min))
# — all exact integers.  The POSITION-weighted checksum (Σ e·pos, pos =
# (y·w + x)·3 + c + 1) catches a correct histogram applied through the
# wrong mapping (flipped rows, channel swap).  Spark runs the real decode
# (qb included); the oracle rebuilds value, CDF, and remap from the
# generator formula by lattice sums + one window.

EQ_N = 24


def q_hist_equalize(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, EQ_N, partitions=4)
    e = multimodal.equalize_checksums(img)
    withi = e.selectExpr(
        "n_px", "sum_eq", "checksum",
        "CAST(substr(image_id, 4) AS BIGINT) AS i",
        "CASE (CAST(substr(image_id, 4) AS BIGINT) % 3) WHEN 0 THEN 'raw' "
        "WHEN 1 THEN 'png' ELSE 'qb' END AS fmt")
    return (withi.groupBy("fmt")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_px").alias("n_pixels"),
                 F.sum("sum_eq").alias("sum_eq"),
                 F.expr("SUM(checksum * (i + 11))").alias("checksum"))
            .selectExpr("fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_pixels AS BIGINT) AS n_pixels",
                        "CAST(sum_eq AS BIGINT) AS sum_eq",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_equalize() -> str:
    from .hashing import mix_sql
    m = fixtures.images_meta_sql("i")
    px = mix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + cc.c")
    v = (f"CASE WHEN fmt = 'qb' THEN CAST(FLOOR((({px}) % 256) / 4.0) "
         f"AS BIGINT) * 4 + 2 ELSE ({px}) % 256 END")
    return f"""
WITH imgs AS MATERIALIZED (
  SELECT i, {m['w']} AS w, {m['h']} AS h, {m['fmt']} AS fmt
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {EQ_N - 1})) AS i) t),
pix AS MATERIALIZED (
  SELECT i, fmt, w, h, {v} AS v,
         (yy.y * w + xx.x) * 3 + cc.c + 1 AS pos
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) xx,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc),
hist AS (
  SELECT i, v, COUNT(*) AS cnt FROM pix GROUP BY 1, 2),
cdf AS (
  SELECT i, v, SUM(cnt) OVER (PARTITION BY i ORDER BY v) AS cdf
  FROM hist),
lims AS (
  SELECT i, MIN(cdf) AS cdfmin, MAX(cdf) AS npx FROM cdf GROUP BY 1),
emap AS (
  SELECT cdf.i, cdf.v,
         CAST(FLOOR((cdf.cdf - l.cdfmin) * 255.0 /
                    GREATEST(l.npx - l.cdfmin, 1)) AS BIGINT) AS e
  FROM cdf JOIN lims l ON cdf.i = l.i),
per AS (
  SELECT p.i, p.fmt, COUNT(*) AS n_px, SUM(e.e) AS sum_eq,
         SUM(e.e * p.pos) AS checksum
  FROM pix p JOIN emap e ON p.i = e.i AND p.v = e.v
  GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_px) AS BIGINT) AS n_pixels,
       CAST(SUM(sum_eq) AS BIGINT) AS sum_eq,
       CAST(SUM(checksum * (i + 11)) AS BIGINT) AS checksum
FROM per GROUP BY 1
"""


# --- ab_test_ztest: two-proportion experiment readout -----------------------------
#
# The experimentation-analytics primitive: users hash-split into variants
# A/B (the corpus_split family's deterministic assignment), conversion =
# the user's purchase share exceeds 20% (purchases * 5 > total events —
# an integer comparison that stays non-degenerate at every corpus size;
# "any purchase" saturates to 100% here at ~67 events/user, making the
# pooled rate 1 and the z denominator exactly 0 — found by the gate when
# Spark ANSI raised DIVIDE_BY_ZERO).  Counts are exact integers from ONE
# user-keyed shuffle; rates, pooled rate, and the two-proportion z
# statistic compose them in a literal float expression (round-6, negative
# zero normalized, CAST(1 AS DOUBLE) because a bare 1.0 parses as DECIMAL
# in Spark but DOUBLE in DuckDB); degenerate pools return NULL.

_AB_Z = ("(CASE WHEN ca + cb = 0 OR ca + cb = na + nb "
         "THEN CAST(NULL AS DOUBLE) ELSE "
         "ROUND((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb) / "
         "SQRT((CAST(ca + cb AS DOUBLE) / (na + nb)) * "
         "(CAST(1 AS DOUBLE) - CAST(ca + cb AS DOUBLE) / (na + nb)) * "
         "(CAST(1 AS DOUBLE) / na + CAST(1 AS DOUBLE) / nb)), 6) + 0.0 "
         "END)")


def q_ab_test_ztest(spark, sf_dir):
    from .hashing import mix_sql
    v = f"({mix_sql('user_id * 7 + 5')}) % 2"
    per_user = (_t(spark, sf_dir, "events")
                .selectExpr("user_id",
                            "CASE WHEN event_type = 'purchase' THEN 1 "
                            "ELSE 0 END AS p")
                .groupBy("user_id")
                .agg(F.sum("p").alias("np"), F.count(F.lit(1)).alias("nt"))
                .selectExpr("user_id",
                            "CASE WHEN np * 5 > nt THEN 1 ELSE 0 END "
                            "AS conv", f"{v} AS v"))
    m = per_user.groupBy().agg(
        F.expr("SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END)").alias("na"),
        F.expr("SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END)").alias("nb"),
        F.expr("SUM(CASE WHEN v = 0 THEN conv ELSE 0 END)").alias("ca"),
        F.expr("SUM(CASE WHEN v = 1 THEN conv ELSE 0 END)").alias("cb"))
    return m.selectExpr(
        "CAST(na AS BIGINT) AS n_a", "CAST(nb AS BIGINT) AS n_b",
        "CAST(ca AS BIGINT) AS conv_a", "CAST(cb AS BIGINT) AS conv_b",
        "ROUND(CAST(ca AS DOUBLE) / na, 6) AS rate_a",
        "ROUND(CAST(cb AS DOUBLE) / nb, 6) AS rate_b",
        f"{_AB_Z} AS z_score")


def _oracle_ab() -> str:
    from .hashing import mix_sql
    v = f"({mix_sql('user_id * 7 + 5')}) % 2"
    return f"""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   * 5 > COUNT(*) THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY 1),
m AS (
  SELECT SUM(CASE WHEN {v} = 0 THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN {v} = 1 THEN 1 ELSE 0 END) AS nb,
         SUM(CASE WHEN {v} = 0 THEN conv ELSE 0 END) AS ca,
         SUM(CASE WHEN {v} = 1 THEN conv ELSE 0 END) AS cb
  FROM per_user)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(ca AS BIGINT) AS conv_a, CAST(cb AS BIGINT) AS conv_b,
       ROUND(CAST(ca AS DOUBLE) / na, 6) AS rate_a,
       ROUND(CAST(cb AS DOUBLE) / nb, 6) AS rate_b,
       {_AB_Z} AS z_score
FROM m
"""


# --- ewma_forecast: exponential smoothing with dyadic weights ---------------------
#
# One-step-ahead forecast of each event type's hourly count via simple
# exponential smoothing with alpha = 1/2 over the previous 16
# OBSERVATIONS (row-lagged: gaps in the hourly series are skipped, the
# same convention on both engines).  Dyadic weights make the forecast
# EXACT: num = Σ_{{j=1..16}} y_{{t−j}} · 2^(16−j) is an int64 and the
# forecast is ONE division by 2^16 — no float recurrence, bit-identical
# at any partitioning.  One hour-keyed count shuffle + one tiny window.

EWMA_LAGS = 16


def _ewma_num() -> str:
    return " + ".join(
        f"COALESCE(LAG(c, {j}) OVER (PARTITION BY g ORDER BY h), 0) "
        f"* {1 << (EWMA_LAGS - j)}" for j in range(1, EWMA_LAGS + 1))


def q_ewma_forecast(spark, sf_dir):
    hourly = (_t(spark, sf_dir, "events")
              .selectExpr("event_type AS g",
                          "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ))"
                          " / 3600000000) AS BIGINT) AS h")
              .groupBy("g", "h").agg(F.count(F.lit(1)).alias("c")))
    seq = hourly.selectExpr(
        "g", "h", "c", f"{_ewma_num()} AS num",
        "ROW_NUMBER() OVER (PARTITION BY g ORDER BY h DESC) AS rdesc")
    return (seq.where("rdesc = 1")
            .selectExpr("g", "CAST(h AS BIGINT) AS last_h",
                        "CAST(c AS BIGINT) AS actual",
                        f"ROUND(num / CAST({1 << EWMA_LAGS} AS DOUBLE), 6) "
                        "AS forecast",
                        "ROUND(ABS(c - num / "
                        f"CAST({1 << EWMA_LAGS} AS DOUBLE)), 6) AS abs_err"))


def _oracle_ewma() -> str:
    return f"""
WITH hourly AS (
  SELECT event_type AS g,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2),
seq AS (
  SELECT g, h, c, {_ewma_num()} AS num,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY h DESC) AS rdesc
  FROM hourly)
SELECT g, CAST(h AS BIGINT) AS last_h, CAST(c AS BIGINT) AS actual,
       ROUND(num / CAST({1 << EWMA_LAGS} AS DOUBLE), 6) AS forecast,
       ROUND(ABS(c - num / CAST({1 << EWMA_LAGS} AS DOUBLE)), 6) AS abs_err
FROM seq WHERE rdesc = 1
"""


QUERIES.update({
    "hist_equalize": (q_hist_equalize, _oracle_equalize()),
    "ab_test_ztest": (q_ab_test_ztest, _oracle_ab()),
    "ewma_forecast": (q_ewma_forecast, _oracle_ewma()),
})


# --- k_anonymity: privacy equivalence-class audit ----------------------------------
#
# The k-anonymity audit of a quasi-identifier tuple (the privacy
# counterpart of pii_scrub's redaction): group the corpus by QI =
# (event_type, hour-of-day, level-4 cell), count equivalence classes,
# and report how many rows sit in classes smaller than K — the
# re-identification risk surface.  Two aggregations, all exact integers;
# class sets are bounded by the QI domain (5 types x 24 hours x lattice),
# never by corpus size.

KANON_K = 10
KANON_LVL = 4


def q_k_anonymity(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, KANON_LVL)
    cls = (_t(spark, sf_dir, "events")
           .selectExpr("event_type",
                       "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ))"
                       " / 3600000000) AS BIGINT) % 24 AS hod",
                       f"{ix} AS cx", f"{iy} AS cy")
           .groupBy("event_type", "hod", "cx", "cy")
           .agg(F.count(F.lit(1)).alias("sz")))
    return (cls.groupBy().agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.expr(f"SUM(CASE WHEN sz < {KANON_K} THEN 1 ELSE 0 END)")
        .alias("n_small"),
        F.expr(f"SUM(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END)")
        .alias("rows_at_risk"),
        F.min("sz").alias("min_class"),
        F.max("sz").alias("max_class"),
        F.sum("sz").alias("n_rows"))
        .selectExpr("CAST(n_classes AS BIGINT) AS n_classes",
                    "CAST(n_small AS BIGINT) AS n_small",
                    "CAST(rows_at_risk AS BIGINT) AS rows_at_risk",
                    "CAST(min_class AS BIGINT) AS min_class",
                    "CAST(max_class AS BIGINT) AS max_class",
                    "CAST(rows_at_risk AS DOUBLE) / n_rows AS risk_share"))


def _oracle_kanon() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, KANON_LVL)
    return f"""
WITH cls AS (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) % 24 AS hod,
         {ix} AS cx, {iy} AS cy, COUNT(*) AS sz
  FROM events GROUP BY 1, 2, 3, 4)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN sz < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_small,
       CAST(SUM(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST(MIN(sz) AS BIGINT) AS min_class,
       CAST(MAX(sz) AS BIGINT) AS max_class,
       CAST(SUM(CASE WHEN sz < {KANON_K} THEN sz ELSE 0 END) AS DOUBLE)
         / SUM(sz) AS risk_share
FROM cls
"""


# --- fk_integrity: referential-integrity audit across the star schema -------------
#
# The data-quality classic: for each FK relationship, count child rows
# whose key has no parent (anti-join orphans), with distinct-orphan-key
# counts and min/max orphan keys pinning WHICH keys dangle, not just how
# many.  Each relationship is one anti-join keyed by the FK — the join
# shuffles the child once; parents broadcast when small.  Four bounded
# one-row aggregates unioned.

_FK_RELS = (
    ("orders.custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
)


def q_fk_integrity(spark, sf_dir):
    outs = []
    for rel, child, fk, parent, pk in _FK_RELS:
        c = _t(spark, sf_dir, child).select(F.col(fk).alias("k"))
        p = _t(spark, sf_dir, parent).select(F.col(pk).alias("k"))
        tot = c.groupBy().agg(F.count(F.lit(1)).alias("n_child"))
        orph = (c.join(F.broadcast(p), "k", "leftanti")
                .groupBy().agg(
                    F.count(F.lit(1)).alias("n_orphan"),
                    F.countDistinct("k").alias("n_orphan_keys"),
                    F.min("k").alias("min_orphan"),
                    F.max("k").alias("max_orphan")))
        outs.append(tot.crossJoin(orph).selectExpr(
            f"'{rel}' AS rel", "CAST(n_child AS BIGINT) AS n_child",
            "CAST(n_orphan AS BIGINT) AS n_orphan",
            "CAST(n_orphan_keys AS BIGINT) AS n_orphan_keys",
            "CAST(min_orphan AS BIGINT) AS min_orphan",
            "CAST(max_orphan AS BIGINT) AS max_orphan"))
    r = outs[0]
    for o in outs[1:]:
        r = r.unionAll(o)
    return r


def _oracle_fk() -> str:
    parts = []
    for rel, child, fk, parent, pk in _FK_RELS:
        parts.append(f"""
SELECT '{rel}' AS rel,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_child,
       CAST(COUNT(*) AS BIGINT) AS n_orphan,
       CAST(COUNT(DISTINCT {fk}) AS BIGINT) AS n_orphan_keys,
       CAST(MIN({fk}) AS BIGINT) AS min_orphan,
       CAST(MAX({fk}) AS BIGINT) AS max_orphan
FROM {child} c
WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})""")
    return "\nUNION ALL\n".join(parts)


# --- ripley_k_bands: multi-distance point-pattern analysis -------------------------
#
# Ripley's K at three nested radii (0.5deg / 1deg / 2deg Euclidean on the
# quantized udeg lattice) over purchase points: pair counts come from the
# Knox-style 3x3 cell-ring equi-join at level 6 (cell height 2.66deg >=
# the max radius, so the ring provably contains every qualifying pair —
# pytest brute-forces all pairs at sf0.001), distances are exact int64
# udeg^2, and K-hat(r) = A * 2 * n_pairs / n^2 with the CSR comparison
# K/(pi r^2) are literal float compositions.

RIPLEY_TYPE = "purchase"
RIPLEY_CELL = 6
RIPLEY_R_UDEG = (500000, 1000000, 2000000)
_RIPLEY_AREA = "61200.0"       # 360 x 170 study window, deg^2


def _ripley_out() -> list:
    # float constants are pre-folded in python and emitted as ONE
    # CAST(... AS DOUBLE) literal each: bare numeric literals parse as
    # DECIMAL in both engines, and DECIMAL x DECIMAL overflowed in DuckDB
    import math
    outs = ["CAST(n_events AS BIGINT) AS n_events"]
    for r in RIPLEY_R_UDEG:
        deg = r / 1e6
        area2 = f"CAST({2.0 * float(_RIPLEY_AREA)!r} AS DOUBLE)"
        pir2 = f"CAST({math.pi * deg * deg!r} AS DOUBLE)"
        outs += [
            f"CAST(c{r} AS BIGINT) AS n_pairs_{r}",
            f"ROUND({area2} * c{r} / "
            f"(CAST(n_events AS DOUBLE) * n_events), 6) AS khat_{r}",
            f"ROUND({area2} * c{r} / "
            f"(CAST(n_events AS DOUBLE) * n_events) / {pir2}, 6) + 0.0 "
            f"AS csr_ratio_{r}",
        ]
    return outs


def q_ripley_k_bands(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, RIPLEY_CELL)
    e = (_t(spark, sf_dir, "events")
         .where(f"event_type = '{RIPLEY_TYPE}'")
         .selectExpr("event_id", f"{_EV_UDEG[0]} AS ux",
                     f"{_EV_UDEG[1]} AS uy", f"{ix} AS cx", f"{iy} AS cy")
         .localCheckpoint())
    a = e.selectExpr("event_id AS a_id", "ux AS a_ux", "uy AS a_uy",
                     "explode(sequence(cx - 1, cx + 1)) AS jx", "cy AS acy")
    a = a.selectExpr("a_id", "a_ux", "a_uy", "jx",
                     "explode(sequence(acy - 1, acy + 1)) AS jy")
    b = e.selectExpr("event_id", "ux", "uy", "cx AS jx", "cy AS jy")
    rmax = max(RIPLEY_R_UDEG)
    # no distinct: the probe side explodes its 3x3 ring but the build side
    # carries its own single cell, so every qualifying pair matches EXACTLY
    # once -- the counts aggregate map-side and no pair set is ever
    # shuffled or sorted (a .distinct() here spilled at 100M rows)
    pairs = (a.join(b, ["jx", "jy"])
             .where("a_id < event_id")
             .selectExpr("a_id", "event_id",
                         "(a_ux - ux) * (a_ux - ux) + "
                         "(a_uy - uy) * (a_uy - uy) AS d2")
             .where(f"d2 <= {rmax}::BIGINT * {rmax}"))
    cnt = pairs.groupBy().agg(*[
        F.expr(f"SUM(CASE WHEN d2 <= {r}::BIGINT * {r} THEN 1 ELSE 0 END)")
        .alias(f"c{r}") for r in RIPLEY_R_UDEG])
    n = e.groupBy().agg(F.count(F.lit(1)).alias("n_events"))
    return (n.crossJoin(cnt)
            .selectExpr(*[f"COALESCE(c{r}, 0) AS c{r}"
                          for r in RIPLEY_R_UDEG], "n_events")
            .selectExpr(*_ripley_out()))


def _oracle_ripley() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, RIPLEY_CELL)
    rmax = max(RIPLEY_R_UDEG)
    band_sums = ",\n         ".join(
        f"SUM(CASE WHEN d2 <= {r}::BIGINT * {r} THEN 1 ELSE 0 END) AS c{r}"
        for r in RIPLEY_R_UDEG)
    return f"""
WITH e AS MATERIALIZED (
  SELECT event_id, {_EV_UDEG[0]} AS ux, {_EV_UDEG[1]} AS uy,
         {ix} AS cx, {iy} AS cy
  FROM events WHERE event_type = '{RIPLEY_TYPE}'),
pairs AS (
  SELECT a.event_id AS a_id, b.event_id AS b_id,
         (a.ux - b.ux) * (a.ux - b.ux) +
         (a.uy - b.uy) * (a.uy - b.uy) AS d2
  FROM (SELECT e.*, cx + dx.d AS jx, cy + dy.d AS jy
        FROM e, (SELECT UNNEST([-1, 0, 1]) AS d) dx,
                (SELECT UNNEST([-1, 0, 1]) AS d) dy) a
  JOIN e b ON b.cx = a.jx AND b.cy = a.jy AND a.event_id < b.event_id
  WHERE (a.ux - b.ux) * (a.ux - b.ux) +
        (a.uy - b.uy) * (a.uy - b.uy) <= {rmax}::BIGINT * {rmax}),
cnt AS (
  SELECT {band_sums}
  FROM pairs),
n AS (SELECT COUNT(*) AS n_events FROM e)
SELECT {', '.join(_ripley_out())}
FROM n, (SELECT {', '.join(f'COALESCE(c{r}, 0) AS c{r}'
                           for r in RIPLEY_R_UDEG)} FROM cnt) c
"""


QUERIES.update({
    "k_anonymity": (q_k_anonymity, _oracle_kanon()),
    "fk_integrity": (q_fk_integrity, _oracle_fk()),
    "ripley_k_bands": (q_ripley_k_bands, _oracle_ripley()),
})


# --- image_quadtree: adaptive-decomposition homogeneity profile --------------------
#
# The split criterion of a quadtree image encoder, profiled per depth:
# at depth d the image is 2^d x 2^d blocks and each block's value RANGE
# (max − min, channels pooled) says how much a split would help.  All
# exact int64 (range sums + block-position-weighted checksums that catch
# a transposed block grid); the oracle rebuilds every block extreme from
# the pixel formula with FLOOR-bucketed block indices.  Depth 3 divides
# every fixture width (multiples of 16).

QT_N = 24
QT_DEPTH = 3


def q_image_quadtree(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, QT_N, partitions=4)
    q = multimodal.quadtree_checksums(img, depth=QT_DEPTH)
    withi = q.selectExpr(
        "depth", "n_blocks", "range_sum", "checksum",
        "CAST(substr(image_id, 4) AS BIGINT) AS i",
        "CASE (CAST(substr(image_id, 4) AS BIGINT) % 3) WHEN 0 THEN 'raw' "
        "WHEN 1 THEN 'png' ELSE 'qb' END AS fmt")
    return (withi.groupBy("fmt", "depth")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_blocks").alias("n_blocks"),
                 F.sum("range_sum").alias("range_sum"),
                 F.expr("SUM(checksum * (i + 7))").alias("checksum"))
            .selectExpr("fmt", "CAST(depth AS INT) AS depth",
                        "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_blocks AS BIGINT) AS n_blocks",
                        "CAST(range_sum AS BIGINT) AS range_sum",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_quadtree() -> str:
    from .hashing import mix_sql
    m = fixtures.images_meta_sql("i")
    px = mix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + cc.c")
    v = (f"CASE WHEN fmt = 'qb' THEN CAST(FLOOR((({px}) % 256) / 4.0) "
         f"AS BIGINT) * 4 + 2 ELSE ({px}) % 256 END")
    return f"""
WITH imgs AS MATERIALIZED (
  SELECT i, {m['w']} AS w, {m['h']} AS h, {m['fmt']} AS fmt
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {QT_N - 1})) AS i) t),
pix AS MATERIALIZED (
  SELECT i, fmt, w, h, yy.y AS y, xx.x AS x, {v} AS v
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) xx,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc),
blocks AS (
  SELECT i, fmt, dd.d AS depth,
         CAST(FLOOR(y * (1 << dd.d) / CAST(h AS DOUBLE)) AS BIGINT) AS by_,
         CAST(FLOOR(x * (1 << dd.d) / CAST(w AS DOUBLE)) AS BIGINT) AS bx,
         MAX(v) - MIN(v) AS rng
  FROM pix, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, {QT_DEPTH})) AS d) dd
  GROUP BY 1, 2, 3, 4, 5),
per AS (
  SELECT i, fmt, depth, COUNT(*) AS n_blocks, SUM(rng) AS range_sum,
         SUM(rng * (by_ * (1 << depth) + bx + 1)) AS checksum
  FROM blocks GROUP BY 1, 2, 3)
SELECT fmt, CAST(depth AS INT) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_blocks) AS BIGINT) AS n_blocks,
       CAST(SUM(range_sum) AS BIGINT) AS range_sum,
       CAST(SUM(checksum * (i + 7)) AS BIGINT) AS checksum
FROM per GROUP BY 1, 2
"""


# --- runs_test: Wald–Wolfowitz randomness audit of the hourly series ---------------
#
# Is each event type's hourly count series random or trending/oscillating?
# Signs of hour-over-hour CHANGE (ties dropped) form a binary sequence;
# the number of runs vs the expectation 1 + 2·n1·n2/(n1+n2) gives the
# classic z statistic.  Two window passes over the tiny hourly aggregate;
# every count is exact int64 and z is one literal float composition
# (round-6, negative-zero normalized, CAST-double divisions).

_RT_E = ("(CAST(1 AS DOUBLE) + CAST(2 AS DOUBLE) * n_up * n_down / "
         "(n_up + n_down))")
_RT_V = ("(CAST(2 AS DOUBLE) * n_up * n_down * "
         "(CAST(2 AS DOUBLE) * n_up * n_down - n_up - n_down) / "
         "((CAST(n_up + n_down AS DOUBLE)) * (n_up + n_down) * "
         "(n_up + n_down - 1)))")
_RT_Z = (f"(CASE WHEN n_up = 0 OR n_down = 0 OR n_up + n_down < 2 "
         f"THEN CAST(NULL AS DOUBLE) ELSE "
         f"ROUND((n_runs - {_RT_E}) / SQRT({_RT_V}), 6) + 0.0 END)")


def q_runs_test(spark, sf_dir):
    hourly = (_t(spark, sf_dir, "events")
              .selectExpr("event_type AS g",
                          "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ))"
                          " / 3600000000) AS BIGINT) AS h")
              .groupBy("g", "h").agg(F.count(F.lit(1)).alias("c")))
    sgn = (hourly.selectExpr(
        "g", "h", "c",
        "c - LAG(c) OVER (PARTITION BY g ORDER BY h) AS dc")
        .where("dc IS NOT NULL AND dc <> 0")
        .selectExpr("g", "h", "CASE WHEN dc > 0 THEN 1 ELSE 0 END AS s"))
    runs = sgn.selectExpr(
        "g", "s",
        "CASE WHEN LAG(s) OVER (PARTITION BY g ORDER BY h) IS NULL "
        "OR LAG(s) OVER (PARTITION BY g ORDER BY h) <> s THEN 1 ELSE 0 END"
        " AS brk")
    m = runs.groupBy("g").agg(
        F.expr("SUM(s)").alias("n_up"),
        F.expr("SUM(1 - s)").alias("n_down"),
        F.expr("SUM(brk)").alias("n_runs"))
    return m.selectExpr(
        "g", "CAST(n_up AS BIGINT) AS n_up",
        "CAST(n_down AS BIGINT) AS n_down",
        "CAST(n_runs AS BIGINT) AS n_runs",
        f"{_RT_Z} AS z_score")


def _oracle_runs() -> str:
    return f"""
WITH hourly AS (
  SELECT event_type AS g,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2),
sgn AS (
  SELECT g, h, CASE WHEN dc > 0 THEN 1 ELSE 0 END AS s
  FROM (SELECT g, h, c,
               c - LAG(c) OVER (PARTITION BY g ORDER BY h) AS dc
        FROM hourly)
  WHERE dc IS NOT NULL AND dc <> 0),
runs AS (
  SELECT g, s,
         CASE WHEN LAG(s) OVER (PARTITION BY g ORDER BY h) IS NULL
              OR LAG(s) OVER (PARTITION BY g ORDER BY h) <> s
         THEN 1 ELSE 0 END AS brk
  FROM sgn),
m AS (
  SELECT g, SUM(s) AS n_up, SUM(1 - s) AS n_down, SUM(brk) AS n_runs
  FROM runs GROUP BY 1)
SELECT g, CAST(n_up AS BIGINT) AS n_up,
       CAST(n_down AS BIGINT) AS n_down,
       CAST(n_runs AS BIGINT) AS n_runs,
       {_RT_Z} AS z_score
FROM m
"""


# --- seasonal_decompose: trend / hour-of-day seasonal split ------------------------
#
# STL-lite over each event type's hourly series: trend = centered 25-hour
# moving sum (full windows only), deviation d = 25·c − SUM25 (EXACT int —
# the x25 scaling keeps the subtraction integer), seasonal index per
# hour-of-day = Σd / (25·n) in ONE division, and the remainder variance
# composes exact integer moments (Σd, Σd²) in one literal — the
# spatial_autocorr determinism rule applied to time-series decomposition.

SD_HALF = 12         # 25-hour centered window


def q_seasonal_decompose(spark, sf_dir):
    hourly = (_t(spark, sf_dir, "events")
              .selectExpr("event_type AS g",
                          "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ))"
                          " / 3600000000) AS BIGINT) AS h")
              .groupBy("g", "h").agg(F.count(F.lit(1)).alias("c")))
    w = "PARTITION BY g ORDER BY h"
    full = hourly.selectExpr(
        "g", "h", "c",
        f"SUM(c) OVER ({w} ROWS BETWEEN {SD_HALF} PRECEDING AND "
        f"{SD_HALF} FOLLOWING) AS s25",
        f"COUNT(*) OVER ({w} ROWS BETWEEN {SD_HALF} PRECEDING AND "
        f"{SD_HALF} FOLLOWING) AS w25")
    dev = (full.where(f"w25 = {2 * SD_HALF + 1}")
           .selectExpr("g", "h % 24 AS hod", "c",
                       f"{2 * SD_HALF + 1} * c - s25 AS d"))
    per = dev.groupBy("g", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sc"), F.sum("d").alias("sd"),
        F.expr("SUM(d * d)").alias("sdd"))
    return per.selectExpr(
        "g", "CAST(hod AS INT) AS hod", "CAST(n AS BIGINT) AS n_hours",
        "ROUND(CAST(sc AS DOUBLE) / n, 6) AS mean_count",
        f"ROUND(CAST(sd AS DOUBLE) / ({2 * SD_HALF + 1} * n), 6) "
        "AS seasonal_dev",
        f"ROUND((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n) / n / "
        f"{float((2 * SD_HALF + 1) ** 2)!r}, 6) AS remainder_var")


def _oracle_seasonal() -> str:
    n25 = 2 * SD_HALF + 1
    return f"""
WITH hourly AS (
  SELECT event_type AS g,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2),
full_w AS (
  SELECT g, h, c,
         SUM(c) OVER (PARTITION BY g ORDER BY h
                      ROWS BETWEEN {SD_HALF} PRECEDING AND {SD_HALF}
                      FOLLOWING) AS s25,
         COUNT(*) OVER (PARTITION BY g ORDER BY h
                        ROWS BETWEEN {SD_HALF} PRECEDING AND {SD_HALF}
                        FOLLOWING) AS w25
  FROM hourly),
dev AS (
  SELECT g, h % 24 AS hod, c, {n25} * c - s25 AS d
  FROM full_w WHERE w25 = {n25}),
per AS (
  SELECT g, hod, COUNT(*) AS n, SUM(c) AS sc, SUM(d) AS sd,
         SUM(d * d) AS sdd
  FROM dev GROUP BY 1, 2)
SELECT g, CAST(hod AS INT) AS hod, CAST(n AS BIGINT) AS n_hours,
       ROUND(CAST(sc AS DOUBLE) / n, 6) AS mean_count,
       ROUND(CAST(sd AS DOUBLE) / ({n25} * n), 6) AS seasonal_dev,
       ROUND((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n) / n /
             {float(n25 ** 2)!r}, 6) AS remainder_var
FROM per
"""


QUERIES.update({
    "image_quadtree": (q_image_quadtree, _oracle_quadtree()),
    "runs_test": (q_runs_test, _oracle_runs()),
    "seasonal_decompose": (q_seasonal_decompose, _oracle_seasonal()),
})


# --- bootstrap_ci: Poisson-bootstrap confidence interval ---------------------------
#
# The web-scale bootstrap: per replicate r, each row gets a deterministic
# Poisson(1)-approximating integer weight w in {0,1,2,3} (hash thresholds
# 368/736/920 of mix(id*37+r) % 1000 ~ the Poisson pmf), so replicate
# sums are exact int64 and each replicate mean is ONE division.  The
# Spark side computes ALL B=32 replicates in a SINGLE pass (64
# conditional sums, no explode — the corpus is read once at any size);
# the oracle cross-joins a 32-row series instead (correctness twin, 32x
# the rows, fine at gate SFs).  The CI is explicit ranks 2 and 31 of the
# 32 replicate means (ties break on replicate id).

BOOT_B = 32
BOOT_TYPE = "purchase"


def _boot_w(r: int) -> str:
    from .hashing import mix_sql
    m = f"({mix_sql(f'event_id * 37 + {r}')}) % 1000"
    return (f"(CASE WHEN ({m}) < 368 THEN 0 WHEN ({m}) < 736 THEN 1 "
            f"WHEN ({m}) < 920 THEN 2 ELSE 3 END)")


def q_bootstrap_ci(spark, sf_dir):
    base = (_t(spark, sf_dir, "events")
            .where(f"event_type = '{BOOT_TYPE}'")
            .selectExpr("event_id",
                        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc"))
    aggs = [F.count(F.lit(1)).alias("n0"), F.sum("vc").alias("s0")]
    for r in range(BOOT_B):
        w = _boot_w(r)
        aggs.append(F.expr(f"SUM({w})").alias(f"n{r}_"))
        aggs.append(F.expr(f"SUM({w} * vc)").alias(f"s{r}_"))
    m = base.groupBy().agg(*aggs)
    reps = m.selectExpr(
        "n0", "s0",
        "stack(" + str(BOOT_B) + ", " + ", ".join(
            f"{r}, n{r}_, s{r}_" for r in range(BOOT_B)) +
        ") AS (r, nr, sr)")
    ranked = reps.selectExpr(
        "n0", "s0", "r", "nr", "sr",
        "CAST(sr AS DOUBLE) / nr AS mean_r",
        "ROW_NUMBER() OVER (ORDER BY CAST(sr AS DOUBLE) / nr, r) AS rk")
    return (ranked.groupBy().agg(
        F.max("n0").alias("n_events"), F.max("s0").alias("s0"),
        F.expr("MAX(CASE WHEN rk = 2 THEN mean_r END)").alias("lo"),
        F.expr(f"MAX(CASE WHEN rk = {BOOT_B - 1} THEN mean_r END)")
        .alias("hi"))
        .selectExpr("CAST(n_events AS BIGINT) AS n_events",
                    "ROUND(CAST(s0 AS DOUBLE) / n_events, 6) "
                    "AS point_mean_cents",
                    "ROUND(lo, 6) AS ci_lo_cents",
                    "ROUND(hi, 6) AS ci_hi_cents",
                    f"CAST({BOOT_B} AS INT) AS n_replicates"))


def _oracle_bootstrap() -> str:
    from .hashing import mix_sql
    m = f"({mix_sql('event_id * 37 + rr.r')}) % 1000"
    w = (f"(CASE WHEN ({m}) < 368 THEN 0 WHEN ({m}) < 736 THEN 1 "
         f"WHEN ({m}) < 920 THEN 2 ELSE 3 END)")
    return f"""
WITH base AS MATERIALIZED (
  SELECT event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events WHERE event_type = '{BOOT_TYPE}'),
pop AS (SELECT COUNT(*) AS n0, SUM(vc) AS s0 FROM base),
reps AS (
  SELECT rr.r, SUM({w}) AS nr, SUM({w} * vc) AS sr
  FROM base, (SELECT UNNEST(GENERATE_SERIES(0, {BOOT_B - 1})) AS r) rr
  GROUP BY 1),
ranked AS (
  SELECT r, CAST(sr AS DOUBLE) / nr AS mean_r,
         ROW_NUMBER() OVER (ORDER BY CAST(sr AS DOUBLE) / nr, r) AS rk
  FROM reps)
SELECT CAST(n0 AS BIGINT) AS n_events,
       ROUND(CAST(s0 AS DOUBLE) / n0, 6) AS point_mean_cents,
       ROUND(MAX(CASE WHEN rk = 2 THEN mean_r END), 6) AS ci_lo_cents,
       ROUND(MAX(CASE WHEN rk = {BOOT_B - 1} THEN mean_r END), 6)
         AS ci_hi_cents,
       CAST({BOOT_B} AS INT) AS n_replicates
FROM pop, ranked
GROUP BY n0, s0
"""


# --- nation_distance_matrix: geodesic nearest-neighbor table -----------------------
#
# The distance-matrix classic over the nation fence layer: haversine
# great-circle distance between every pair of fence centers (25 x 25,
# broadcast cross join — the layer is a dim table), top-3 nearest per
# nation by a rank whose tiebreak is the neighbor key.  The trig composes
# the SHARED center formulas in one literal float expression (round-6);
# ranking happens over the ROUNDED distance so order is engine-stable.

NDM_TOPK = 3
_NDM_R = 6371.0088   # IAU mean Earth radius, km


def _ndm_centers(alias: str, key: str) -> str:
    from .hashing import u01_sql
    return (f"{u01_sql(f'{key} * 7 + 1')} * 360.0 - 180.0 AS {alias}x, "
            f"{u01_sql(f'{key} * 7 + 2')} * 160.0 - 80.0 AS {alias}y")


_NDM_DIST = (
    f"ROUND(CAST({2 * _NDM_R!r} AS DOUBLE) * ASIN(SQRT("
    "POW(SIN(RADIANS(by - ay) / 2), 2) + COS(RADIANS(ay)) * "
    "COS(RADIANS(by)) * POW(SIN(RADIANS(bx - ax) / 2), 2))), 6)")


def q_nation_distance_matrix(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    a = n.selectExpr("n_nationkey AS a_key", "n_name AS a_name",
                     _ndm_centers("a", "n_nationkey").split(", ")[0],
                     _ndm_centers("a", "n_nationkey").split(", ")[1])
    b = n.selectExpr("n_nationkey AS b_key",
                     _ndm_centers("b", "n_nationkey").split(", ")[0],
                     _ndm_centers("b", "n_nationkey").split(", ")[1])
    d = (a.crossJoin(F.broadcast(b)).where("a_key <> b_key")
         .selectExpr("a_key", "a_name", "b_key", f"{_NDM_DIST} AS km"))
    top = d.selectExpr(
        "a_key", "a_name", "b_key", "km",
        "ROW_NUMBER() OVER (PARTITION BY a_key ORDER BY km, b_key) AS rk")
    return (top.where(f"rk <= {NDM_TOPK}")
            .selectExpr("CAST(a_key AS BIGINT) AS nationkey", "a_name",
                        "CAST(rk AS INT) AS rk",
                        "CAST(b_key AS BIGINT) AS neighbor_key", "km"))


def _oracle_ndm() -> str:
    return f"""
WITH n AS (
  SELECT n_nationkey, n_name, {_ndm_centers('c', 'n_nationkey')}
  FROM nation),
d AS (
  SELECT a.n_nationkey AS a_key, a.n_name AS a_name,
         b.n_nationkey AS b_key,
         a.cx AS ax, a.cy AS ay, b.cx AS bx, b.cy AS by
  FROM n a, n b WHERE a.n_nationkey <> b.n_nationkey),
km AS (
  SELECT a_key, a_name, b_key, {_NDM_DIST} AS km FROM d),
top AS (
  SELECT a_key, a_name, b_key, km,
         ROW_NUMBER() OVER (PARTITION BY a_key ORDER BY km, b_key) AS rk
  FROM km)
SELECT CAST(a_key AS BIGINT) AS nationkey, a_name AS a_name,
       CAST(rk AS INT) AS rk, CAST(b_key AS BIGINT) AS neighbor_key, km
FROM top WHERE rk <= {NDM_TOPK}
"""


QUERIES.update({
    "bootstrap_ci": (q_bootstrap_ci, _oracle_bootstrap()),
    "nation_distance_matrix": (q_nation_distance_matrix, _oracle_ndm()),
})


# --- image_dither: ordered (Bayer) halftoning over real decoded bytes --------------
#
# 1-bit-per-channel quantization with the classic Bayer 4x4 threshold
# matrix: pixel on iff v > B[y%4][x%4]*16 + 8 (the integer form of
# (B+0.5)*16, so no float enters).  Exact on-counts + position-weighted
# checksums (a shifted/transposed matrix changes them); the oracle
# replays the matrix as a 16-branch integer CASE on (y%4)*4 + x%4.

DITHER_N = 24
_BAYER_FLAT = (0, 8, 2, 10, 12, 4, 14, 6, 3, 11, 1, 9, 15, 7, 13, 5)


def q_image_dither(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, DITHER_N, partitions=4)
    d = multimodal.dither_checksums(img)
    withi = d.selectExpr(
        "n_px", "n_on", "checksum",
        "CAST(substr(image_id, 4) AS BIGINT) AS i",
        "CASE (CAST(substr(image_id, 4) AS BIGINT) % 3) WHEN 0 THEN 'raw' "
        "WHEN 1 THEN 'png' ELSE 'qb' END AS fmt")
    return (withi.groupBy("fmt")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_px").alias("n_pixels"),
                 F.sum("n_on").alias("n_on"),
                 F.expr("SUM(checksum * (i + 13))").alias("checksum"))
            .selectExpr("fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_pixels AS BIGINT) AS n_pixels",
                        "CAST(n_on AS BIGINT) AS n_on",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_dither() -> str:
    from .hashing import mix_sql
    m = fixtures.images_meta_sql("i")
    px = mix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + cc.c")
    v = (f"CASE WHEN fmt = 'qb' THEN CAST(FLOOR((({px}) % 256) / 4.0) "
         f"AS BIGINT) * 4 + 2 ELSE ({px}) % 256 END")
    bayer = "CASE (yy.y % 4) * 4 + (xx.x % 4) " + " ".join(
        f"WHEN {k} THEN {b}" for k, b in enumerate(_BAYER_FLAT)) + " END"
    return f"""
WITH imgs AS MATERIALIZED (
  SELECT i, {m['w']} AS w, {m['h']} AS h, {m['fmt']} AS fmt
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {DITHER_N - 1})) AS i) t),
pix AS (
  SELECT i, fmt,
         CASE WHEN ({v}) > ({bayer}) * 16 + 8 THEN 1 ELSE 0 END AS onn,
         (yy.y * w + xx.x) * 3 + cc.c + 1 AS pos
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) xx,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc),
per AS (
  SELECT i, fmt, COUNT(*) AS n_px, SUM(onn) AS n_on,
         SUM(onn * pos) AS checksum
  FROM pix GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_px) AS BIGINT) AS n_pixels,
       CAST(SUM(n_on) AS BIGINT) AS n_on,
       CAST(SUM(checksum * (i + 13)) AS BIGINT) AS checksum
FROM per GROUP BY 1
"""


# --- item_cooccurrence: item-item collaborative-filtering table --------------------
#
# The classic co-occurrence recommender build: baskets = orders, items =
# parts folded to 200 SKUs (l_partkey % 200), co(i,j) = baskets holding
# both, cosine = co / sqrt(n_i * n_j).  The pair set is bounded by
# (basket size)^2 per basket — never items^2 globally — so the self-join
# scales with order volume at bounded basket width; item marginals (200
# rows) broadcast back; top-3 per item ranks over the ROUNDED cosine with
# a neighbor tiebreak (engine-stable).

COOC_MOD = 200
COOC_TOPK = 3


def q_item_cooccurrence(spark, sf_dir):
    bi = (_t(spark, sf_dir, "lineitem")
          .selectExpr("l_orderkey AS bk", f"l_partkey % {COOC_MOD} AS it")
          .distinct())
    ni = bi.groupBy("it").agg(F.count(F.lit(1)).alias("n"))
    a = bi.selectExpr("bk", "it AS i")
    b = bi.selectExpr("bk", "it AS j")
    co = (a.join(b, "bk").where("i < j")
          .groupBy("i", "j").agg(F.count(F.lit(1)).alias("co")))
    # symmetrize so every item ranks all its neighbors
    sym = co.selectExpr("i", "j", "co").unionAll(
        co.selectExpr("j AS i", "i AS j", "co"))
    scored = (sym.join(F.broadcast(ni.selectExpr("it AS i", "n AS n_i")),
                       "i")
              .join(F.broadcast(ni.selectExpr("it AS j", "n AS n_j")), "j")
              .selectExpr("i", "j", "co", "n_i", "n_j",
                          "ROUND(co / SQRT(CAST(n_i AS DOUBLE) * n_j), 6)"
                          " AS cosine"))
    top = scored.selectExpr(
        "i", "j", "co", "cosine",
        "ROW_NUMBER() OVER (PARTITION BY i ORDER BY cosine DESC, j) AS rk")
    return (top.where(f"rk <= {COOC_TOPK}")
            .selectExpr("CAST(i AS BIGINT) AS item", "CAST(rk AS INT) AS rk",
                        "CAST(j AS BIGINT) AS neighbor",
                        "CAST(co AS BIGINT) AS n_cobaskets", "cosine"))


def _oracle_cooc() -> str:
    return f"""
WITH bi AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS bk, l_partkey % {COOC_MOD} AS it
  FROM lineitem),
ni AS (SELECT it, COUNT(*) AS n FROM bi GROUP BY 1),
co AS (
  SELECT a.it AS i, b.it AS j, COUNT(*) AS co
  FROM bi a JOIN bi b ON a.bk = b.bk AND a.it < b.it
  GROUP BY 1, 2),
sym AS (
  SELECT i, j, co FROM co
  UNION ALL SELECT j AS i, i AS j, co FROM co),
scored AS (
  SELECT s.i, s.j, s.co,
         ROUND(s.co / SQRT(CAST(na.n AS DOUBLE) * nb.n), 6) AS cosine
  FROM sym s JOIN ni na ON na.it = s.i JOIN ni nb ON nb.it = s.j),
top AS (
  SELECT i, j, co, cosine,
         ROW_NUMBER() OVER (PARTITION BY i ORDER BY cosine DESC, j) AS rk
  FROM scored)
SELECT CAST(i AS BIGINT) AS item, CAST(rk AS INT) AS rk,
       CAST(j AS BIGINT) AS neighbor, CAST(co AS BIGINT) AS n_cobaskets,
       cosine
FROM top WHERE rk <= {COOC_TOPK}
"""


QUERIES.update({
    "image_dither": (q_image_dither, _oracle_dither()),
    "item_cooccurrence": (q_item_cooccurrence, _oracle_cooc()),
})


# --- local_moran_quadrants: LISA cluster classification -----------------------------
#
# The local counterpart of spatial_autocorr's global Moran: per occupied
# level-6 cell, deviation d_i = n*x_i − Sx (exact int — the ×n scaling
# trick) and the queen-contiguity spatial lag of deviations over the
# OCCUPIED set; cells classify into HH/LL/HL/LH Moran-scatterplot
# quadrants (zero d or lag → 'NS').  Quadrant counts and Σd·lag (the
# local-I numerator mass, DECIMAL(38,0) — d·lag ~1e20 at 100M rows) are
# exact; one grid agg + one constant-fan-out scatter join, all sets
# lattice-bounded.

LISA_LVL = 6


def q_local_moran_quadrants(spark, sf_dir):
    nside = 1 << LISA_LVL
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, LISA_LVL)
    cnt = (_t(spark, sf_dir, "events")
           .selectExpr(f"{ix} AS ix", f"{iy} AS iy")
           .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("x"))
           .localCheckpoint())
    g = cnt.groupBy().agg(F.count(F.lit(1)).alias("n"),
                          F.sum("x").alias("sx"))
    d = (cnt.crossJoin(F.broadcast(g))
         .selectExpr("ix", "iy", "n * x - sx AS d"))
    sc = (d.selectExpr("ix", "iy", "d", "explode(sequence(-1, 1)) AS dx")
          .selectExpr("ix", "iy", "d", "dx",
                      "explode(sequence(-1, 1)) AS dy")
          .where("NOT (dx = 0 AND dy = 0)")
          .selectExpr("ix + dx AS nx", "iy + dy AS ny", "d")
          .where(f"nx BETWEEN 0 AND {nside - 1} "
                 f"AND ny BETWEEN 0 AND {nside - 1}")
          .groupBy("nx", "ny").agg(F.sum("d").alias("lag")))
    per = (d.join(sc, (d.ix == sc.nx) & (d.iy == sc.ny), "left")
           .selectExpr("ix", "iy", "d", "COALESCE(lag, 0) AS lag"))
    cls = per.selectExpr(
        "ix", "iy", "d", "lag",
        "CASE WHEN d > 0 AND lag > 0 THEN 'HH' "
        "WHEN d < 0 AND lag < 0 THEN 'LL' "
        "WHEN d > 0 AND lag < 0 THEN 'HL' "
        "WHEN d < 0 AND lag > 0 THEN 'LH' ELSE 'NS' END AS quad")
    return (cls.groupBy("quad")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.expr("SUM(CAST(d AS DECIMAL(38, 0)) * lag)")
                 .alias("sum_dlag"),
                 F.expr("SUM(ix * 64 + iy)").alias("checksum"))
            .selectExpr("quad", "CAST(n_cells AS BIGINT) AS n_cells",
                        "CAST(sum_dlag AS DECIMAL(38, 0)) AS sum_dlag",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_lisa() -> str:
    nside = 1 << LISA_LVL
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, LISA_LVL)
    return f"""
WITH cnt AS MATERIALIZED (
  SELECT {ix} AS ix, {iy} AS iy, COUNT(*) AS x
  FROM events GROUP BY 1, 2),
g AS (SELECT COUNT(*) AS n, SUM(x) AS sx FROM cnt),
d AS MATERIALIZED (
  SELECT ix, iy, g.n * x - g.sx AS d FROM cnt, g),
sc AS (
  SELECT ix + dx.v AS nx, iy + dy.v AS ny, SUM(d) AS lag
  FROM d, (SELECT UNNEST([-1, 0, 1]) AS v) dx,
       (SELECT UNNEST([-1, 0, 1]) AS v) dy
  WHERE NOT (dx.v = 0 AND dy.v = 0)
    AND ix + dx.v BETWEEN 0 AND {nside - 1}
    AND iy + dy.v BETWEEN 0 AND {nside - 1}
  GROUP BY 1, 2),
per AS (
  SELECT d.ix, d.iy, d.d, COALESCE(sc.lag, 0) AS lag
  FROM d LEFT JOIN sc ON d.ix = sc.nx AND d.iy = sc.ny),
cls AS (
  SELECT ix, iy, d, lag,
         CASE WHEN d > 0 AND lag > 0 THEN 'HH'
              WHEN d < 0 AND lag < 0 THEN 'LL'
              WHEN d > 0 AND lag < 0 THEN 'HL'
              WHEN d < 0 AND lag > 0 THEN 'LH' ELSE 'NS' END AS quad
  FROM per)
SELECT quad, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CAST(d AS DECIMAL(38, 0)) * lag) AS DECIMAL(38, 0))
         AS sum_dlag,
       CAST(SUM(ix * 64 + iy) AS BIGINT) AS checksum
FROM cls GROUP BY 1
"""


# --- welch_ttest: unequal-variance mean comparison across event types ---------------
#
# Completes the hypothesis-testing family (z-test / chi-square / ANOVA /
# KS / Mann-Kendall / runs): Welch's t over purchase-value cents for
# every pair of event types.  Per-type moments (n, Σv, Σv² — the square
# in DECIMAL per the ANOVA overflow lesson) are exact; t and the
# Welch–Satterthwaite df compose them in shared literal float
# expressions over a 5×5 self-join of the tiny moment table.

_WT_V1 = ("((CAST(s2a AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na) / "
          "(na - 1) / na)")
_WT_V2 = ("((CAST(s2b AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb) / "
          "(nb - 1) / nb)")
_WT_T = (f"ROUND((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) / "
         f"SQRT({_WT_V1} + {_WT_V2}), 6) + 0.0")
_WT_DF = (f"ROUND(({_WT_V1} + {_WT_V2}) * ({_WT_V1} + {_WT_V2}) / "
          f"({_WT_V1} * {_WT_V1} / (na - 1) + "
          f"{_WT_V2} * {_WT_V2} / (nb - 1)), 6)")


def q_welch_ttest(spark, sf_dir):
    m = (_t(spark, sf_dir, "events")
         .selectExpr("event_type AS g",
                     "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc")
         .groupBy("g")
         .agg(F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s"),
              F.expr("SUM(CAST(vc AS DECIMAL(38, 0)) * vc)").alias("s2")))
    a = m.selectExpr("g AS g1", "n AS na", "s AS sa", "s2 AS s2a")
    b = m.selectExpr("g AS g2", "n AS nb", "s AS sb", "s2 AS s2b")
    return (a.crossJoin(F.broadcast(b)).where("g1 < g2")
            .selectExpr("g1", "g2",
                        "CAST(na AS BIGINT) AS n1",
                        "CAST(nb AS BIGINT) AS n2",
                        "ROUND(CAST(sa AS DOUBLE) / na - "
                        "CAST(sb AS DOUBLE) / nb, 6) + 0.0 "
                        "AS mean_diff_cents",
                        f"{_WT_T} AS t_stat", f"{_WT_DF} AS df"))


def _oracle_welch() -> str:
    return f"""
WITH m AS (
  SELECT event_type AS g, COUNT(*) AS n,
         SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS s,
         SUM(CAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
             AS DECIMAL(38, 0)) * CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
           AS s2
  FROM events GROUP BY 1)
SELECT g1, g2, CAST(na AS BIGINT) AS n1, CAST(nb AS BIGINT) AS n2,
       ROUND(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb, 6)
         + 0.0 AS mean_diff_cents,
       {_WT_T} AS t_stat, {_WT_DF} AS df
FROM (SELECT g AS g1, n AS na, s AS sa, s2 AS s2a FROM m) a
JOIN (SELECT g AS g2, n AS nb, s AS sb, s2 AS s2b FROM m) b ON g1 < g2
"""


QUERIES.update({
    "local_moran_quadrants": (q_local_moran_quadrants, _oracle_lisa()),
    "welch_ttest": (q_welch_ttest, _oracle_welch()),
})


# --- getis_ord_hotspots: Gi* hotspot z-scores ----------------------------------
#
# The standard NAMED hotspot statistic next to LISA's quadrants (ArcGIS
# "Hot Spot Analysis"): per occupied level-6 cell, Gi* with binary queen
# weights INCLUDING self over the occupied set —
#   Gi* = (S1 − X̄·W) / (S·√((n·W − W²)/(n−1)))
# where S1/W come from one constant-fan-out 3×3 scatter join (self
# included — the * in Gi*), and X̄/S from exact global moments (Σx
# BIGINT, Σx² DECIMAL per the ANOVA overflow lesson).  z composes the
# exact integers in ONE shared literal; per-cell z is quantized to
# integer micro-units BEFORE the variable-cardinality class sums (the
# rayleigh rule).  Classes at the ±1.960/±2.576 normal thresholds.

GI_LVL = LISA_LVL


def _gi_z() -> str:
    xbar = "(CAST(sx AS DOUBLE) / n)"
    s = f"SQRT(CAST(sxx AS DOUBLE) / n - {xbar} * {xbar})"
    num = f"(CAST(s1 AS DOUBLE) - {xbar} * w)"
    den = (f"({s} * SQRT((CAST(n AS DOUBLE) * w - CAST(w AS DOUBLE) * w)"
           " / (CAST(n AS DOUBLE) - 1.0)))")
    return (f"CASE WHEN n * w - w * w <= 0 "
            f"OR sxx * n <= CAST(sx AS DECIMAL(38, 0)) * sx "
            f"THEN NULL ELSE {num} / {den} END")


_GI_CLS = ("CASE WHEN z IS NULL THEN 'ns' "
           "WHEN z >= 2.576 THEN 'hot99' WHEN z >= 1.96 THEN 'hot95' "
           "WHEN z <= -2.576 THEN 'cold99' WHEN z <= -1.96 THEN 'cold95' "
           "ELSE 'ns' END")


def q_getis_ord_hotspots(spark, sf_dir):
    nside = 1 << GI_LVL
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, GI_LVL)
    cnt = (_t(spark, sf_dir, "events")
           .selectExpr(f"{ix} AS ix", f"{iy} AS iy")
           .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("x"))
           .localCheckpoint())
    g = cnt.groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"),
        F.expr("SUM(CAST(x AS DECIMAL(38, 0)) * x)").alias("sxx"))
    sc = (cnt.selectExpr("ix", "iy", "x",
                         "explode(sequence(-1, 1)) AS dx")
          .selectExpr("ix", "iy", "x", "dx",
                      "explode(sequence(-1, 1)) AS dy")
          .selectExpr("ix + dx AS nx", "iy + dy AS ny", "x")
          .where(f"nx BETWEEN 0 AND {nside - 1} "
                 f"AND ny BETWEEN 0 AND {nside - 1}")
          .groupBy("nx", "ny")
          .agg(F.sum("x").alias("s1"), F.count(F.lit(1)).alias("w")))
    per = (cnt.join(sc, (cnt.ix == sc.nx) & (cnt.iy == sc.ny))
           .crossJoin(F.broadcast(g))
           .selectExpr("ix", "iy", "s1", "w", "n", "sx", "sxx")
           .selectExpr("ix", "iy", f"{_gi_z()} AS z"))
    cls = per.selectExpr("ix", "iy",
                         f"{_GI_CLS} AS cls",
                         "CAST(FLOOR(COALESCE(z, 0.0) * 1000000.0) "
                         "AS BIGINT) AS zq")
    return (cls.groupBy("cls")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("zq").alias("sum_zq"),
                 F.max("zq").alias("max_zq"),
                 F.expr("SUM(ix * 64 + iy)").alias("checksum"))
            .selectExpr("cls", "CAST(n_cells AS BIGINT) AS n_cells",
                        "CAST(sum_zq AS BIGINT) AS sum_zq",
                        "CAST(max_zq AS BIGINT) AS max_zq",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_getis() -> str:
    nside = 1 << GI_LVL
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, GI_LVL)
    return f"""
WITH cnt AS MATERIALIZED (
  SELECT {ix} AS ix, {iy} AS iy, COUNT(*) AS x
  FROM events GROUP BY 1, 2),
g AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx,
         CAST(SUM(CAST(x AS DECIMAL(38, 0)) * x) AS DECIMAL(38, 0))
           AS sxx
  FROM cnt),
sc AS (
  SELECT ix + dx.v AS nx, iy + dy.v AS ny,
         SUM(x) AS s1, COUNT(*) AS w
  FROM cnt, (SELECT UNNEST([-1, 0, 1]) AS v) dx,
       (SELECT UNNEST([-1, 0, 1]) AS v) dy
  WHERE ix + dx.v BETWEEN 0 AND {nside - 1}
    AND iy + dy.v BETWEEN 0 AND {nside - 1}
  GROUP BY 1, 2),
per AS (
  SELECT cnt.ix, cnt.iy, {_gi_z()} AS z
  FROM cnt JOIN sc ON cnt.ix = sc.nx AND cnt.iy = sc.ny, g),
cls AS (
  SELECT ix, iy, {_GI_CLS} AS cls,
         CAST(FLOOR(COALESCE(z, 0.0) * 1000000.0) AS BIGINT) AS zq
  FROM per)
SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(zq) AS BIGINT) AS sum_zq,
       CAST(MAX(zq) AS BIGINT) AS max_zq,
       CAST(SUM(ix * 64 + iy) AS BIGINT) AS checksum
FROM cls GROUP BY 1
"""


QUERIES.update({
    "getis_ord_hotspots": (q_getis_ord_hotspots, _oracle_getis()),
})


# --- harris_corners: exact-integer corner detection ---------------------------------
#
# The Harris/Shi-Tomasi interest-point primitive with k = 1/20 so the
# response R20 = 20(AB − C²) − (A+B)² is an exact integer: Sobel
# gradients on the green channel, 3×3 box structure tensor, corner iff
# R20 > 0.  The positive-response mass is reported mod 2^31 per image
# (the raw sum exceeds int64), then i-weighted per format.  The oracle
# rebuilds gradients and tensor sums by TWO chained scatter-aggregations
# (the focal_density pattern in SQL) from the pixel formula.

HARRIS_N = 24
# Sobel taps as (dy, dx, wx, wy): wx = dx * (2 if dy == 0 else 1),
# wy = dy * (2 if dx == 0 else 1) — the same kernel the numpy path slices
_SOBEL_TAPS = tuple(
    (dy, dx, dx * (2 if dy == 0 else 1), dy * (2 if dx == 0 else 1))
    for dy in (-1, 0, 1) for dx in (-1, 0, 1))


def q_harris_corners(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, HARRIS_N, partitions=4)
    hc = multimodal.harris_checksums(img)
    withi = hc.selectExpr(
        "n_valid", "n_corners", "mass_mod",
        "CAST(substr(image_id, 4) AS BIGINT) AS i",
        "CASE (CAST(substr(image_id, 4) AS BIGINT) % 3) WHEN 0 THEN 'raw' "
        "WHEN 1 THEN 'png' ELSE 'qb' END AS fmt")
    return (withi.groupBy("fmt")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_valid").alias("n_valid"),
                 F.sum("n_corners").alias("n_corners"),
                 F.expr("SUM(n_corners * (i + 17))").alias("corner_chk"),
                 F.expr("SUM(mass_mod * (i + 17))").alias("mass_chk"))
            .selectExpr("fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_valid AS BIGINT) AS n_valid",
                        "CAST(n_corners AS BIGINT) AS n_corners",
                        "CAST(corner_chk AS BIGINT) AS corner_chk",
                        "CAST(mass_chk AS BIGINT) AS mass_chk"))


def _oracle_harris() -> str:
    from .hashing import mix_sql
    m = fixtures.images_meta_sql("i")
    px = mix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + 1")
    v = (f"CASE WHEN fmt = 'qb' THEN CAST(FLOOR((({px}) % 256) / 4.0) "
         f"AS BIGINT) * 4 + 2 ELSE ({px}) % 256 END")
    taps = ", ".join(f"({dy}, {dx}, {wx}, {wy})"
                     for dy, dx, wx, wy in _SOBEL_TAPS)
    return f"""
WITH imgs AS MATERIALIZED (
  SELECT i, {m['w']} AS w, {m['h']} AS h, {m['fmt']} AS fmt
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {HARRIS_N - 1})) AS i) t),
pix AS MATERIALIZED (
  SELECT i, fmt, w, h, yy.y AS y, xx.x AS x, {v} AS v
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) xx),
taps(dy, dx, wx, wy) AS (VALUES {taps}),
grad AS MATERIALIZED (
  SELECT * FROM (
    SELECT i, fmt, w, h, y - dy AS ty, x - dx AS tx,
           SUM(v * wx) AS gx, SUM(v * wy) AS gy
    FROM pix, taps GROUP BY 1, 2, 3, 4, 5, 6)
  WHERE ty BETWEEN 1 AND h - 2 AND tx BETWEEN 1 AND w - 2),
tens AS MATERIALIZED (
  SELECT * FROM (
    SELECT i, fmt, w, h, ty - oy.o AS cy, tx - ox.o AS cx,
           SUM(gx * gx) AS a, SUM(gy * gy) AS b, SUM(gx * gy) AS c
    FROM grad, (SELECT UNNEST([-1, 0, 1]) AS o) oy,
         (SELECT UNNEST([-1, 0, 1]) AS o) ox
    GROUP BY 1, 2, 3, 4, 5, 6)
  WHERE cy BETWEEN 2 AND h - 3 AND cx BETWEEN 2 AND w - 3),
resp AS (
  SELECT i, fmt, 20 * (a * b - c * c) - (a + b) * (a + b) AS r20
  FROM tens),
per AS (
  SELECT i, fmt, COUNT(*) AS n_valid,
         SUM(CASE WHEN r20 > 0 THEN 1 ELSE 0 END) AS n_corners,
         CAST(COALESCE(SUM(CASE WHEN r20 > 0 THEN
              CAST(r20 AS DECIMAL(38, 0)) END), 0) % 2147483648 AS BIGINT)
           AS mass_mod
  FROM resp GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_valid) AS BIGINT) AS n_valid,
       CAST(SUM(n_corners) AS BIGINT) AS n_corners,
       CAST(SUM(n_corners * (i + 17)) AS BIGINT) AS corner_chk,
       CAST(SUM(mass_mod * (i + 17)) AS BIGINT) AS mass_chk
FROM per GROUP BY 1
"""


# --- geofence_dwell: enter/exit episodes inside the hot fence ------------------------
#
# The geofencing primitive (how long do users dwell inside a zone?): an
# in-fence flag per event, per-user gaps-and-islands over event time to
# form VISIT episodes (consecutive in-fence events), then per-user visit
# counts and exact integer dwell micros (episode max ts − min ts).  One
# user-keyed shuffle; episode logic is two windows over it.

GF_LON = (-60.0, 60.0)   # ~16% of the uniform map: populated at every SF
GF_LAT = (-40.0, 40.0)


def q_geofence_dwell(spark, sf_dir):
    e = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us",
        f"CASE WHEN ({fixtures.EVENT_LON_SQL}) >= {GF_LON[0]!r} AND "
        f"({fixtures.EVENT_LON_SQL}) < {GF_LON[1]!r} AND "
        f"({fixtures.EVENT_LAT_SQL}) >= {GF_LAT[0]!r} AND "
        f"({fixtures.EVENT_LAT_SQL}) < {GF_LAT[1]!r} THEN 1 ELSE 0 END "
        "AS inf")
    w = "PARTITION BY user_id ORDER BY us, inf"
    isl = (e.selectExpr(
        "user_id", "us", "inf",
        f"ROW_NUMBER() OVER ({w}) - "
        f"ROW_NUMBER() OVER (PARTITION BY user_id, inf ORDER BY us, inf) "
        "AS island")
        .where("inf = 1"))
    ep = (isl.groupBy("user_id", "island")
          .agg(F.count(F.lit(1)).alias("n_events"),
               F.expr("MAX(us) - MIN(us)").alias("dwell_us")))
    return (ep.groupBy().agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_visits"),
        F.sum("n_events").alias("n_events_in"),
        F.sum("dwell_us").alias("dwell_us_total"),
        F.max("dwell_us").alias("dwell_us_max"))
        .selectExpr("CAST(n_users AS BIGINT) AS n_users",
                    "CAST(n_visits AS BIGINT) AS n_visits",
                    "CAST(n_events_in AS BIGINT) AS n_events_in",
                    "CAST(dwell_us_total AS BIGINT) AS dwell_us_total",
                    "CAST(dwell_us_max AS BIGINT) AS dwell_us_max"))


def _oracle_geofence() -> str:
    return f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
         CASE WHEN ({fixtures.EVENT_LON_SQL}) >= {GF_LON[0]!r} AND
              ({fixtures.EVENT_LON_SQL}) < {GF_LON[1]!r} AND
              ({fixtures.EVENT_LAT_SQL}) >= {GF_LAT[0]!r} AND
              ({fixtures.EVENT_LAT_SQL}) < {GF_LAT[1]!r} THEN 1 ELSE 0 END
           AS inf
  FROM events),
isl AS (
  SELECT user_id, us, island FROM (
    SELECT user_id, us, inf,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, inf) -
           ROW_NUMBER() OVER (PARTITION BY user_id, inf ORDER BY us, inf)
             AS island
    FROM e)
  WHERE inf = 1),
ep AS (
  SELECT user_id, island, COUNT(*) AS n_events,
         MAX(us) - MIN(us) AS dwell_us
  FROM isl GROUP BY 1, 2)
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_visits,
       CAST(SUM(n_events) AS BIGINT) AS n_events_in,
       CAST(SUM(dwell_us) AS BIGINT) AS dwell_us_total,
       CAST(MAX(dwell_us) AS BIGINT) AS dwell_us_max
FROM ep
"""


QUERIES.update({
    "harris_corners": (q_harris_corners, _oracle_harris()),
    "geofence_dwell": (q_geofence_dwell, _oracle_geofence()),
})


# --- image_metadata_audit: header/catalog integrity without decode ------------------
#
# Parse container headers only (png IHDR, qb's big-endian w/h; raw is
# headerless so its byte LENGTH must equal w·h·3) and reconcile against
# the catalog columns — the cheap pre-decode integrity scan of an image
# lakehouse.  The oracle can replay raw byte totals exactly (w·h·3 from
# the meta formulas) and pins hdr_ok = n_images for every format;
# compressed byte totals are zlib-version-dependent, so they are NOT
# gated (only counted rows are) — documented, not hidden.

META_N = 24


def q_image_metadata_audit(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, META_N, partitions=4)
    a = multimodal.header_audit(img)
    withi = a.selectExpr(
        "fmt", "n_bytes", "hdr_ok",
        "CAST(substr(image_id, 4) AS BIGINT) AS i")
    return (withi.groupBy("fmt")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("hdr_ok").alias("n_hdr_ok"),
                 F.expr("SUM(CASE WHEN fmt = 'raw' THEN n_bytes ELSE 0 "
                        "END)").alias("raw_bytes"),
                 F.expr("SUM(hdr_ok * (i + 19))").alias("checksum"))
            .selectExpr("fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_hdr_ok AS BIGINT) AS n_hdr_ok",
                        "CAST(raw_bytes AS BIGINT) AS raw_bytes",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_meta_audit() -> str:
    m = fixtures.images_meta_sql("i")
    return f"""
WITH imgs AS (
  SELECT i, {m['w']} AS w, {m['h']} AS h, {m['fmt']} AS fmt
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {META_N - 1})) AS i) t)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(COUNT(*) AS BIGINT) AS n_hdr_ok,
       CAST(SUM(CASE WHEN fmt = 'raw' THEN w * h * 3 ELSE 0 END)
            AS BIGINT) AS raw_bytes,
       CAST(SUM(i + 19) AS BIGINT) AS checksum
FROM imgs GROUP BY 1
"""


# --- antimeridian_pairs: distance correctness across the ±180° seam -----------------
#
# The wraparound trap every naive geospatial join falls into: points at
# lon −179.9 and +179.9 are 0.2° apart, but |Δlon| says 359.8.  Over the
# seam population (|lon| ≥ 179 plus a 1°-wide control strip either side
# of lon 0), count close pairs (Chebyshev ≤ 1° with |Δlat| ≤ 1°) under
# BOTH metrics: naive |Δlon| and modular LEAST(|Δ|, 360° − |Δ|).  The
# modular count strictly exceeds the naive count at the seam and equals
# it at the control — the invariant itself is gated.  Exact µdeg math.

AM_BAND = 1.0


def _am_sel() -> str:
    return (f"ABS({fixtures.EVENT_LON_SQL}) >= 179.0 OR "
            f"ABS({fixtures.EVENT_LON_SQL}) <= 1.0")


def q_antimeridian_pairs(spark, sf_dir):
    e = (_t(spark, sf_dir, "events")
         .where(_am_sel())
         .selectExpr("event_id",
                     f"CASE WHEN ABS({fixtures.EVENT_LON_SQL}) >= 179.0 "
                     "THEN 'seam' ELSE 'control' END AS zone",
                     f"{_EV_UDEG[0]} AS ux", f"{_EV_UDEG[1]} AS uy")
         .localCheckpoint())
    band = 1000000
    # lat-bucket ring key (bucket width = the 1-deg band) bounds the join:
    # a zone-only self-join is quadratic in strip population at scale
    a = (e.selectExpr("zone", "event_id AS a_id", "ux AS aux", "uy AS auy",
                      f"explode(sequence(CAST(FLOOR(uy / {band}.0) AS "
                      f"BIGINT) - 1, CAST(FLOOR(uy / {band}.0) AS BIGINT) "
                      "+ 1)) AS jb"))
    b = e.selectExpr("zone", "event_id", "ux", "uy",
                     f"CAST(FLOOR(uy / {band}.0) AS BIGINT) AS jb")
    pairs = (a.join(b, ["zone", "jb"]).where("a_id < event_id")
             .selectExpr("zone",
                         "ABS(aux - ux) AS dlon_naive",
                         f"LEAST(ABS(aux - ux), 360000000 - ABS(aux - ux))"
                         " AS dlon_mod",
                         "ABS(auy - uy) AS dlat"))
    return (pairs.where(f"dlat <= {band}")
            .groupBy("zone")
            .agg(F.expr(f"SUM(CASE WHEN dlon_naive <= {band} THEN 1 "
                        "ELSE 0 END)").alias("n_naive"),
                 F.expr(f"SUM(CASE WHEN dlon_mod <= {band} THEN 1 ELSE 0 "
                        "END)").alias("n_modular"))
            .selectExpr("zone", "CAST(n_naive AS BIGINT) AS n_naive",
                        "CAST(n_modular AS BIGINT) AS n_modular",
                        "CAST(n_modular - n_naive AS BIGINT) "
                        "AS n_seam_missed"))


def _oracle_antimeridian() -> str:
    band = 1000000
    return f"""
WITH e AS MATERIALIZED (
  SELECT event_id,
         CASE WHEN ABS({fixtures.EVENT_LON_SQL}) >= 179.0
         THEN 'seam' ELSE 'control' END AS zone,
         {_EV_UDEG[0]} AS ux, {_EV_UDEG[1]} AS uy
  FROM events
  WHERE {_am_sel()}),
pairs AS (
  SELECT DISTINCT a.event_id AS a_id, b.event_id AS b_id, a.zone,
         ABS(a.ux - b.ux) AS dlon_naive,
         LEAST(ABS(a.ux - b.ux), 360000000 - ABS(a.ux - b.ux)) AS dlon_mod,
         ABS(a.uy - b.uy) AS dlat
  FROM (SELECT e.*, CAST(FLOOR(uy / {band}.0) AS BIGINT) + db.v AS jb
        FROM e, (SELECT UNNEST([-1, 0, 1]) AS v) db) a
  JOIN (SELECT e.*, CAST(FLOOR(uy / {band}.0) AS BIGINT) AS jb FROM e) b
    ON a.zone = b.zone AND a.jb = b.jb AND a.event_id < b.event_id)
SELECT zone,
       CAST(SUM(CASE WHEN dlon_naive <= {band} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_naive,
       CAST(SUM(CASE WHEN dlon_mod <= {band} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_modular,
       CAST(SUM(CASE WHEN dlon_mod <= {band} THEN 1 ELSE 0 END) -
            SUM(CASE WHEN dlon_naive <= {band} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_seam_missed
FROM pairs WHERE dlat <= {band}
GROUP BY 1
"""


QUERIES.update({
    "image_metadata_audit": (q_image_metadata_audit, _oracle_meta_audit()),
    "antimeridian_pairs": (q_antimeridian_pairs, _oracle_antimeridian()),
})


# --- video_scene_cuts: shot-boundary detection over real AVI decode -----------------
#
# Extends the gated video family past per-frame stats: each task
# synthesizes an uncompressed BI_RGB AVI with PLANTED scene structure —
# pixel (f,y,x,c) = (i*7 + (f // seg)*997 + f*3 + y*17 + x*29 + c*13)
# % 256, so frames inside a scene differ by a small jitter (mean SAD
# ~6/px incl. mod-wrap pixels) and frames across a boundary shift by
# +232 mod 256 (mean SAD ~43/px) — decodes through the REAL RIFF/AVI walk, and
# detects cuts where the frame-to-frame sum of absolute differences
# crosses an integer threshold (sad * 10 > 150 * n_px, cross-multiplied:
# no float).  A cut-position-weighted checksum pins WHERE the cuts are.

N_SCENE_AVI = 12


def _scene_params(i: int) -> tuple:
    return (6 + i % 3, 7 + (i % 4) * 3, 6 + (i % 2) * 5, 2 + i % 2)


def q_video_scene_cuts(spark, sf_dir):
    import numpy as np
    from pyspark.sql import types as T
    from . import riff

    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_cuts", T.LongType()),
        T.StructField("sad_total", T.LongType()),
        T.StructField("cut_checksum", T.LongType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].astype(int):
                nf, w, h, seg = _scene_params(i)
                f, y, x, c = np.ogrid[0:nf, 0:h, 0:w, 0:3]
                px = ((i * 7 + (f // seg) * 997 + f * 3 + y * 17
                       + x * 29 + c * 13) % 256).astype(np.uint8)
                dec, _ = riff.avi_decode(riff.avi_encode(px, fps=10))
                d = dec.astype(np.int64)
                sad = np.abs(d[1:] - d[:-1]).sum(axis=(1, 2, 3))
                npx = h * w * 3
                cuts = sad * 10 > 150 * npx
                fidx = np.arange(1, nf, dtype=np.int64)
                rows.append((f"avi{i:03d}", nf, int(cuts.sum()),
                             int(sad.sum()),
                             int((fidx[cuts] ** 2).sum())))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (spark.range(0, N_SCENE_AVI, numPartitions=4)
            .mapInPandas(work, schema))


def _oracle_scene_cuts() -> str:
    px = ("((i * 7 + CAST(FLOOR(f / CAST(seg AS DOUBLE)) AS BIGINT) * 997 "
          "+ f * 3 + y * 17 + x * 29 + c * 13) % 256)")
    px_prev = ("((i * 7 + CAST(FLOOR((f - 1) / CAST(seg AS DOUBLE)) "
               "AS BIGINT) * 997 + (f - 1) * 3 + y * 17 + x * 29 "
               "+ c * 13) % 256)")
    return f"""
WITH ids AS (
  SELECT i, 6 + i % 3 AS nf, 7 + (i % 4) * 3 AS w, 6 + (i % 2) * 5 AS h,
         2 + i % 2 AS seg
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_SCENE_AVI - 1})) AS i) t),
diffs AS (
  SELECT i, nf, w, h,  f,
         SUM(ABS({px} - {px_prev})) AS sad
  FROM ids,
       GENERATE_SERIES(1, 7) gf(f),
       GENERATE_SERIES(0, 11) gy(y),
       GENERATE_SERIES(0, 16) gx(x),
       GENERATE_SERIES(0, 2) gc(c)
  WHERE f < nf AND y < h AND x < w
  GROUP BY 1, 2, 3, 4, 5),
cuts AS (
  SELECT i, nf, f, sad,
         CASE WHEN sad * 10 > 150 * (h * w * 3) THEN 1 ELSE 0 END AS cut
  FROM diffs)
SELECT printf('avi%03d', i) AS media_id,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(SUM(cut) AS BIGINT) AS n_cuts,
       CAST(SUM(sad) AS BIGINT) AS sad_total,
       CAST(SUM(cut * f * f) AS BIGINT) AS cut_checksum
FROM cuts GROUP BY i, nf
"""


# --- audio_silence_windows: RMS windowing / silence detection over real WAV ---------
#
# Extends the gated audio family past whole-stream stats: sample k of
# stream i is (u % 8192 − 4096) · env, u = (i·48271 + k·16807) % 65536,
# env = (i·31 + (k // 256)·97) % 5 — an amplitude envelope that plants
# genuinely silent 256-sample windows (env = 0).  Decode through the
# REAL RIFF walk, then per-window energy Σs² (exact int64) and the
# integer silence test energy · 16 < n · 4096² (cross-multiplied).

N_SIL_WAV = 24


def q_audio_silence_windows(spark, sf_dir):
    import numpy as np
    from pyspark.sql import types as T
    from . import riff

    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("n_windows", T.LongType()),
        T.StructField("n_silent", T.LongType()),
        T.StructField("energy_total", T.LongType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].astype(int):
                n = 1024 + (i * 256) % 1281
                k = np.arange(n, dtype=np.int64)
                u = (i * 48271 + k * 16807) % 65536
                env = (i * 31 + (k // 256) * 97) % 5
                s = ((u % 8192 - 4096) * env).astype(np.int16)
                wav, rate = riff.wav_decode(riff.wav_encode(s, 16000))
                got = np.round(wav[:, 0].astype(np.float64)
                               * 32768.0).astype(np.int64)
                assert rate == 16000 and len(got) == n
                nw = n // 256
                e = (got[:nw * 256].reshape(nw, 256) ** 2).sum(axis=1)
                silent = e * 16 < 256 * 4096 * 4096
                rows.append((f"wav{i:03d}", nw, int(silent.sum()),
                             int(e.sum())))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (spark.range(0, N_SIL_WAV, numPartitions=4)
            .mapInPandas(work, schema))


def _oracle_silence() -> str:
    s = ("(((i * 48271 + k * 16807) % 65536) % 8192 - 4096) * "
         "((i * 31 + CAST(FLOOR(k / 256.0) AS BIGINT) * 97) % 5)")
    return f"""
WITH ids AS (
  SELECT i, 1024 + (i * 256) % 1281 AS n
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_SIL_WAV - 1})) AS i) t),
samp AS (
  SELECT i, n, CAST(FLOOR(k / 256.0) AS BIGINT) AS wnd, {s} AS s
  FROM ids, GENERATE_SERIES(0, 2400) g(k)
  WHERE k < CAST(FLOOR(n / 256.0) AS BIGINT) * 256),
wind AS (
  SELECT i, n, wnd, SUM(s * s) AS e FROM samp GROUP BY 1, 2, 3),
per AS (
  SELECT i, COUNT(*) AS n_windows,
         SUM(CASE WHEN e * 16 < 4294967296 THEN 1 ELSE 0 END)
           AS n_silent,
         SUM(e) AS energy
  FROM wind GROUP BY 1)
SELECT printf('wav%03d', i) AS media_id,
       CAST(n_windows AS BIGINT) AS n_windows,
       CAST(n_silent AS BIGINT) AS n_silent,
       CAST(energy AS BIGINT) AS energy_total
FROM per
"""


QUERIES.update({
    "video_scene_cuts": (q_video_scene_cuts, _oracle_scene_cuts()),
    "audio_silence_windows": (q_audio_silence_windows, _oracle_silence()),
})


# --- image_colorfulness: Hasler–Süsstrunk colorfulness QA ---------------------------
#
# The aesthetic/quality filter metric M = sqrt(σ²_rg + σ²_yb) +
# 0.3·sqrt(µ²_rg + µ²_yb) over opponent axes rg = R−G, yb = (R+G)/2 − B.
# The kernel returns exact integer moments with yb DOUBLED to stay
# integer (σ²_yb = σ²_yb2/4, µ_yb = µ_yb2/2 — folded into the shared
# literal); per FORMAT the metric composes the POOLED moments, so no
# float is ever summed across rows.

COLOR_N = 24

_CF_VRG = "((CAST(s_rg2 AS DOUBLE) - CAST(s_rg AS DOUBLE) * s_rg / n) / n)"
_CF_VYB = ("((CAST(s_yb2 AS DOUBLE) - CAST(s_yb AS DOUBLE) * s_yb / n) "
           "/ n / 4.0)")
_CF_M = (f"ROUND(SQRT({_CF_VRG} + {_CF_VYB}) + 0.3 * "
         "SQRT((CAST(s_rg AS DOUBLE) / n) * (CAST(s_rg AS DOUBLE) / n) + "
         "(CAST(s_yb AS DOUBLE) / n / 2.0) * "
         "(CAST(s_yb AS DOUBLE) / n / 2.0)), 6)")


def q_image_colorfulness(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, COLOR_N, partitions=4)
    mm = multimodal.opponent_moment_checksums(img)
    withi = mm.selectExpr(
        "n_px", "s_rg", "s_rg2", "s_yb", "s_yb2",
        "CAST(substr(image_id, 4) AS BIGINT) AS i",
        "CASE (CAST(substr(image_id, 4) AS BIGINT) % 3) WHEN 0 THEN 'raw' "
        "WHEN 1 THEN 'png' ELSE 'qb' END AS fmt")
    pooled = (withi.groupBy("fmt")
              .agg(F.count(F.lit(1)).alias("n_images"),
                   F.sum("n_px").alias("n"),
                   F.sum("s_rg").alias("s_rg"),
                   F.sum("s_rg2").alias("s_rg2"),
                   F.sum("s_yb").alias("s_yb"),
                   F.sum("s_yb2").alias("s_yb2"),
                   F.expr("SUM(s_rg2 * (i + 23))").alias("checksum")))
    return pooled.selectExpr(
        "fmt", "CAST(n_images AS BIGINT) AS n_images",
        "CAST(n AS BIGINT) AS n_pixels",
        f"{_CF_M} AS colorfulness",
        "CAST(checksum AS BIGINT) AS checksum")


def _oracle_colorfulness() -> str:
    from .hashing import mix_sql
    m = fixtures.images_meta_sql("i")
    pxr = mix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + 0")
    pxg = mix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + 1")
    pxb = mix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + 2")

    def dec(p):
        return (f"CASE WHEN fmt = 'qb' THEN CAST(FLOOR((({p}) % 256) / 4.0)"
                f" AS BIGINT) * 4 + 2 ELSE ({p}) % 256 END")
    return f"""
WITH imgs AS MATERIALIZED (
  SELECT i, {m['w']} AS w, {m['h']} AS h, {m['fmt']} AS fmt
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {COLOR_N - 1})) AS i) t),
pix AS (
  SELECT i, fmt, ({dec(pxr)}) - ({dec(pxg)}) AS rg,
         ({dec(pxr)}) + ({dec(pxg)}) - 2 * ({dec(pxb)}) AS yb
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) xx),
per AS (
  SELECT i, fmt, COUNT(*) AS n_px, SUM(rg) AS s_rg, SUM(rg * rg) AS s_rg2,
         SUM(yb) AS s_yb, SUM(yb * yb) AS s_yb2
  FROM pix GROUP BY 1, 2),
pooled AS (
  SELECT fmt, COUNT(*) AS n_images, SUM(n_px) AS n, SUM(s_rg) AS s_rg,
         SUM(s_rg2) AS s_rg2, SUM(s_yb) AS s_yb, SUM(s_yb2) AS s_yb2,
         SUM(s_rg2 * (i + 23)) AS checksum
  FROM per GROUP BY 1)
SELECT fmt, CAST(n_images AS BIGINT) AS n_images,
       CAST(n AS BIGINT) AS n_pixels,
       {_CF_M} AS colorfulness,
       CAST(checksum AS BIGINT) AS checksum
FROM pooled
"""


# --- gravity_model_fit: distance-decay calibration of tile OD flows -----------------
#
# The transport-modeling classic: regress ln(flow) on ln(d²) over the
# origin→destination tile matrix (consecutive events per user, level-4
# tiles) — the slope is −β/2, the distance-decay exponent.  Tile-index
# distances and flow counts are exact ints; both logs snap to 1e-6-int64
# (the zipf machinery), so the OLS moments are exact.

GRAV_LVL = 4


def q_gravity_model_fit(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, GRAV_LVL)
    e = (_t(spark, sf_dir, "events")
         .selectExpr("user_id",
                     "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us",
                     "event_id", f"{ix} AS cx", f"{iy} AS cy"))
    w = "PARTITION BY user_id ORDER BY us, event_id"
    hops = e.selectExpr(
        "cx", "cy",
        f"LAG(cx) OVER ({w}) AS px", f"LAG(cy) OVER ({w}) AS py")
    flows = (hops.where("px IS NOT NULL AND NOT (px = cx AND py = cy)")
             .groupBy("px", "py", "cx", "cy")
             .agg(F.count(F.lit(1)).alias("flow")))
    pts = flows.selectExpr(
        "CAST(FLOOR(ROUND(LN((cx - px) * (cx - px) + "
        "(cy - py) * (cy - py)), 6) * 1000000.0 + 0.5) AS BIGINT) AS x",
        "CAST(FLOOR(ROUND(LN(flow), 6) * 1000000.0 + 0.5) AS BIGINT) AS y")
    m = pts.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.expr("SUM(x * x)").alias("sxx"),
        F.expr("SUM(x * y)").alias("sxy"),
        F.expr("SUM(y * y)").alias("syy"))
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_od_pairs",
        f"ROUND({_ZSLOPE}, 6) + 0.0 AS decay_slope",
        f"ROUND((CAST(sy AS DOUBLE) - {_ZSLOPE} * sx) / n / 1000000.0, 6)"
        " + 0.0 AS intercept",
        "ROUND(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) * "
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) / "
        "((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * "
        "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) "
        "AS r_squared")


def _oracle_gravity() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, GRAV_LVL)
    return f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, {ix} AS cx, {iy} AS cy
  FROM events),
hops AS (
  SELECT cx, cy,
         LAG(cx) OVER (PARTITION BY user_id ORDER BY us, event_id) AS px,
         LAG(cy) OVER (PARTITION BY user_id ORDER BY us, event_id) AS py
  FROM e),
flows AS (
  SELECT px, py, cx, cy, COUNT(*) AS flow
  FROM hops WHERE px IS NOT NULL AND NOT (px = cx AND py = cy)
  GROUP BY 1, 2, 3, 4),
pts AS (
  SELECT CAST(FLOOR(ROUND(LN((cx - px) * (cx - px) +
              (cy - py) * (cy - py)), 6) * 1000000.0 + 0.5) AS BIGINT)
           AS x,
         CAST(FLOOR(ROUND(LN(flow), 6) * 1000000.0 + 0.5) AS BIGINT) AS y
  FROM flows),
m AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx,
         SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM pts)
SELECT CAST(n AS BIGINT) AS n_od_pairs,
       ROUND({_ZSLOPE}, 6) + 0.0 AS decay_slope,
       ROUND((CAST(sy AS DOUBLE) - {_ZSLOPE} * sx) / n / 1000000.0, 6)
         + 0.0 AS intercept,
       ROUND(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) *
              (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) /
             ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
              (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
         AS r_squared
FROM m
"""


# --- spacetime_scan: Kulldorff-style cylinder scan ----------------------------------
#
# The epidemiology / anomaly-localization scan statistic: candidate
# cylinders = (level-5 cell) × (3-day window); under independence the
# expectation is µ = cell_total · window_total / N (exact rational), and
# the Poisson log-likelihood ratio n·ln(n/µ) + (N−n)·ln((N−n)/(N−µ))
# scores cylinders with n > µ.  All counts exact int64; LLR is one
# round-6 literal; the top-5 ranking orders by the ROUNDED score with a
# (cell, window) tiebreak.  Candidate sets are lattice × span bounded.

SCAN_LVL = 5
SCAN_WIN = 3
SCAN_TOPK = 5

_LLR = ("(CASE WHEN n * CAST(nn AS DOUBLE) > ct * CAST(wt AS DOUBLE) THEN "
        "ROUND(n * LN(n * CAST(nn AS DOUBLE) / (ct * CAST(wt AS DOUBLE)))"
        " + (nn - n) * LN((nn - n) / (nn - ct * CAST(wt AS DOUBLE) / nn)),"
        " 6) ELSE CAST(NULL AS DOUBLE) END)")


def q_spacetime_scan(spark, sf_dir):
    cell = cells.cell_sql(f"({fixtures.EVENT_LON_SQL})",
                          f"({fixtures.EVENT_LAT_SQL})", SCAN_LVL)
    daily = (_t(spark, sf_dir, "events")
             .selectExpr(f"{cell} AS cell",
                         "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ))"
                         " / 86400000000) AS BIGINT) AS d")
             .groupBy("cell", "d").agg(F.count(F.lit(1)).alias("c"))
             .localCheckpoint())
    cyl = (daily.selectExpr(
        "cell", "c", f"explode(sequence(d - {SCAN_WIN - 1}, d)) AS ds")
        .groupBy("cell", "ds").agg(F.sum("c").alias("n")))
    ct = daily.groupBy("cell").agg(F.sum("c").alias("ct"))
    wt = (daily.selectExpr(
        "c", f"explode(sequence(d - {SCAN_WIN - 1}, d)) AS ds")
        .groupBy("ds").agg(F.sum("c").alias("wt")))
    nn = daily.groupBy().agg(F.sum("c").alias("nn"))
    scored = (cyl.join(F.broadcast(ct), "cell")
              .join(F.broadcast(wt), "ds")
              .crossJoin(F.broadcast(nn))
              .selectExpr("cell", "ds", "n", "ct", "wt", "nn",
                          f"{_LLR} AS llr")
              .where("llr IS NOT NULL"))
    top = scored.selectExpr(
        "cell", "ds", "n", "nn", "ct", "wt", "llr",
        "ROW_NUMBER() OVER (ORDER BY llr DESC, cell, ds) AS rk")
    return (top.where(f"rk <= {SCAN_TOPK}")
            .selectExpr("CAST(rk AS INT) AS rk",
                        "CAST(cell AS BIGINT) AS cell",
                        "CAST(ds AS BIGINT) AS window_start",
                        "CAST(n AS BIGINT) AS n_events",
                        "ROUND(ct * CAST(wt AS DOUBLE) / nn, 6) AS mu",
                        "llr"))


def _oracle_scan() -> str:
    cell = cells.cell_sql(f"({fixtures.EVENT_LON_SQL})",
                          f"({fixtures.EVENT_LAT_SQL})", SCAN_LVL)
    return f"""
WITH daily AS MATERIALIZED (
  SELECT {cell} AS cell,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2),
cyl AS (
  SELECT cell, d - o.v AS ds, SUM(c) AS n
  FROM daily, (SELECT UNNEST(GENERATE_SERIES(0, {SCAN_WIN - 1})) AS v) o
  GROUP BY 1, 2),
ct AS (SELECT cell, SUM(c) AS ct FROM daily GROUP BY 1),
wt AS (
  SELECT d - o.v AS ds, SUM(c) AS wt
  FROM daily, (SELECT UNNEST(GENERATE_SERIES(0, {SCAN_WIN - 1})) AS v) o
  GROUP BY 1),
nn AS (SELECT SUM(c) AS nn FROM daily),
scored AS (
  SELECT cyl.cell, cyl.ds, cyl.n, ct.ct, wt.wt, nn.nn, {_LLR} AS llr
  FROM cyl JOIN ct ON cyl.cell = ct.cell JOIN wt ON cyl.ds = wt.ds
  CROSS JOIN nn),
top AS (
  SELECT cell, ds, n, nn, ct, wt, llr,
         ROW_NUMBER() OVER (ORDER BY llr DESC, cell, ds) AS rk
  FROM scored WHERE llr IS NOT NULL)
SELECT CAST(rk AS INT) AS rk, CAST(cell AS BIGINT) AS cell,
       CAST(ds AS BIGINT) AS window_start, CAST(n AS BIGINT) AS n_events,
       ROUND(ct * CAST(wt AS DOUBLE) / nn, 6) AS mu, llr
FROM top WHERE rk <= {SCAN_TOPK}
"""


QUERIES.update({
    "image_colorfulness": (q_image_colorfulness, _oracle_colorfulness()),
    "gravity_model_fit": (q_gravity_model_fit, _oracle_gravity()),
    "spacetime_scan": (q_spacetime_scan, _oracle_scan()),
})


# --- semivariogram: empirical variogram of the density lattice ----------------------
#
# The geostatistics/kriging precursor: γ(h) = Σ(z_i − z_j)² / (2·|N(h)|)
# over OCCUPIED level-6 cell pairs at Chebyshev lag h = 1..3 (scatter
# explode of the 8h ring offsets + one equi-join, each ordered pair
# counted both ways — the /2 absorbs it).  Squared differences and pair
# counts are exact int64; γ is ONE division per lag.

VGRAM_LVL = 6
VGRAM_MAXH = 3


def _vgram_offsets() -> list:
    out = []
    for k in range(1, VGRAM_MAXH + 1):
        for dx in range(-k, k + 1):
            for dy in range(-k, k + 1):
                if max(abs(dx), abs(dy)) == k:
                    out.append((k, dx, dy))
    return out


def q_semivariogram(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, VGRAM_LVL)
    cnt = (_t(spark, sf_dir, "events")
           .selectExpr(f"{ix} AS ix", f"{iy} AS iy")
           .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("z"))
           .localCheckpoint())
    offs = ", ".join(f"struct({k} AS k, {dx} AS dx, {dy} AS dy)"
                     for k, dx, dy in _vgram_offsets())
    sc = (cnt.selectExpr("ix", "iy", "z", f"explode(array({offs})) AS o")
          .selectExpr("ix + o.dx AS nx", "iy + o.dy AS ny", "o.k AS k",
                      "z"))
    b = cnt.selectExpr("ix AS nx", "iy AS ny", "z AS zn")
    return (sc.join(b, ["nx", "ny"])
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.expr("SUM((z - zn) * (z - zn))").alias("ssq"))
            .selectExpr("CAST(k AS INT) AS lag",
                        "CAST(n_pairs AS BIGINT) AS n_pairs",
                        "CAST(ssq AS BIGINT) AS ssq",
                        "ROUND(CAST(ssq AS DOUBLE) / (2.0 * n_pairs), 6) "
                        "AS gamma"))


def _oracle_vgram() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, VGRAM_LVL)
    offs = ", ".join(f"({k}, {dx}, {dy})"
                     for k, dx, dy in _vgram_offsets())
    return f"""
WITH cnt AS MATERIALIZED (
  SELECT {ix} AS ix, {iy} AS iy, COUNT(*) AS z
  FROM events GROUP BY 1, 2),
offs(k, dx, dy) AS (VALUES {offs}),
pairs AS (
  SELECT o.k, a.z, b.z AS zn
  FROM cnt a CROSS JOIN offs o
  JOIN cnt b ON b.ix = a.ix + o.dx AND b.iy = a.iy + o.dy)
SELECT CAST(k AS INT) AS lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM((z - zn) * (z - zn)) AS BIGINT) AS ssq,
       ROUND(CAST(SUM((z - zn) * (z - zn)) AS DOUBLE) / (2.0 * COUNT(*)),
             6) AS gamma
FROM pairs GROUP BY 1
"""


# --- forecast_backtest: rolling one-step EWMA evaluation ----------------------------
#
# The forecast-eval pass over the ewma_forecast model: at EVERY hour with
# a full 16-lag history, err = |65536·c − num| is an exact int64 (num is
# the dyadic weighted sum), so WAPE = Σerr / (65536·Σc) and the signed
# bias are ONE division each — no per-row float ratio is ever summed.

def q_forecast_backtest(spark, sf_dir):
    hourly = (_t(spark, sf_dir, "events")
              .selectExpr("event_type AS g",
                          "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ))"
                          " / 3600000000) AS BIGINT) AS h")
              .groupBy("g", "h").agg(F.count(F.lit(1)).alias("c")))
    seq = hourly.selectExpr(
        "g", "h", "c", f"{_ewma_num()} AS num",
        "ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn")
    ev = (seq.where(f"rn > {EWMA_LAGS}")
          .selectExpr("g", "c", f"{1 << EWMA_LAGS} * c - num AS e"))
    m = ev.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sc"),
        F.expr("SUM(ABS(e))").alias("sae"),
        F.sum("e").alias("se"))
    return m.selectExpr(
        "g", "CAST(n AS BIGINT) AS n_forecasts",
        f"ROUND(CAST(sae AS DOUBLE) / ({1 << EWMA_LAGS} * CAST(sc AS "
        "DOUBLE)), 6) AS wape",
        f"ROUND(CAST(se AS DOUBLE) / ({1 << EWMA_LAGS} * CAST(sc AS "
        "DOUBLE)), 6) + 0.0 AS bias")


def _oracle_backtest() -> str:
    return f"""
WITH hourly AS (
  SELECT event_type AS g,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2),
seq AS (
  SELECT g, h, c, {_ewma_num()} AS num,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
  FROM hourly),
ev AS (
  SELECT g, c, {1 << EWMA_LAGS} * c - num AS e
  FROM seq WHERE rn > {EWMA_LAGS}),
m AS (
  SELECT g, COUNT(*) AS n, SUM(c) AS sc, SUM(ABS(e)) AS sae, SUM(e) AS se
  FROM ev GROUP BY 1)
SELECT g, CAST(n AS BIGINT) AS n_forecasts,
       ROUND(CAST(sae AS DOUBLE) / ({1 << EWMA_LAGS} * CAST(sc AS DOUBLE)),
             6) AS wape,
       ROUND(CAST(se AS DOUBLE) / ({1 << EWMA_LAGS} * CAST(sc AS DOUBLE)),
             6) + 0.0 AS bias
FROM m
"""


# --- degree_assortativity: degree-degree correlation of the synthetic graph ---------
#
# Network-science classic (are hubs connected to hubs?): Pearson r over
# the (deg_u, deg_v) multiset of directed edge endpoints (each undirected
# edge counted both ways — the standard symmetrization).  Graph = the
# kcore fixture (shared hash family, both engines build the identical
# edge list); all moments exact int64, r is one literal composition.

def q_degree_assortativity(spark, sf_dir):
    from .queries_mining import _kc_edge_exprs
    ax, bx = _kc_edge_exprs()
    edges = (spark.range(0, 2400).selectExpr(f"{ax} AS x", f"{bx} AS y")
             .where("x <> y")
             .selectExpr("LEAST(x, y) AS a", "GREATEST(x, y) AS b")
             .distinct().localCheckpoint())
    sym = edges.selectExpr("a AS u", "b AS v").unionAll(
        edges.selectExpr("b AS u", "a AS v"))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.selectExpr("u", "d AS du")
    dv = deg.selectExpr("u AS v", "d AS dv")
    j = sym.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    m = j.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("du").alias("sx"), F.sum("dv").alias("sy"),
        F.expr("SUM(du * du)").alias("sxx"),
        F.expr("SUM(du * dv)").alias("sxy"),
        F.expr("SUM(dv * dv)").alias("syy"))
    return m.selectExpr(
        "CAST(n / 2 AS BIGINT) AS n_edges",
        "ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / "
        "SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * "
        "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) + 0.0 "
        "AS assortativity")


def _oracle_assort() -> str:
    from .queries_mining import _kc_edge_exprs
    ax, bx = _kc_edge_exprs()
    ax, bx = ax.replace("id", "g.id"), bx.replace("id", "g.id")
    return f"""
WITH raw AS (
  SELECT {ax} AS x, {bx} AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, 2399)) AS id) g),
edges AS (
  SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
  FROM raw WHERE x <> y),
sym AS (
  SELECT a AS u, b AS v FROM edges
  UNION ALL SELECT b AS u, a AS v FROM edges),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY 1),
j AS (
  SELECT du.d AS du, dv.d AS dv
  FROM sym JOIN deg du ON du.u = sym.u JOIN deg dv ON dv.u = sym.v),
m AS (
  SELECT COUNT(*) AS n, SUM(du) AS sx, SUM(dv) AS sy, SUM(du * du) AS sxx,
         SUM(du * dv) AS sxy, SUM(dv * dv) AS syy
  FROM j)
SELECT CAST(n / 2 AS BIGINT) AS n_edges,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
             SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                  (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
         + 0.0 AS assortativity
FROM m
"""


QUERIES.update({
    "semivariogram": (q_semivariogram, _oracle_vgram()),
    "forecast_backtest": (q_forecast_backtest, _oracle_backtest()),
    "degree_assortativity": (q_degree_assortativity, _oracle_assort()),
})


# --- catchment_accessibility: two-step floating catchment (2SFCA) -------------------
#
# The health-geography accessibility classic: facilities = nation fence
# centers with deterministic capacity, demand = events; step 1 computes
# each facility's supply ratio R_j = capacity / demand-in-catchment
# (8-degree box), step 2 sums R_j over facilities whose catchment covers
# each level-4 cell center.  R is snapped to a 1e-6 int (round-6) BEFORE
# the per-cell sum, so the float never rides a distributed aggregation —
# the accessibility histogram is exact.  Facilities broadcast (25 rows).

CATCH_DEG = 8.0
CATCH_LVL = 4


def _facility_sql(key: str) -> tuple:
    from .hashing import u01_sql
    return (f"({u01_sql(f'{key} * 7 + 1')} * 360.0 - 180.0)",
            f"({u01_sql(f'{key} * 7 + 2')} * 160.0 - 80.0)")


def q_catchment_accessibility(spark, sf_dir):
    fx, fy = _facility_sql("n_nationkey")
    fac = (_t(spark, sf_dir, "nation")
           .selectExpr("n_nationkey AS fk", f"{fx} AS fx", f"{fy} AS fy",
                       "100 + n_nationkey * 7 AS capacity"))
    ev = _t(spark, sf_dir, "events").selectExpr(
        f"{fixtures.EVENT_LON_SQL} AS lon", f"{fixtures.EVENT_LAT_SQL} AS lat")
    dem = (ev.join(F.broadcast(fac),
                   (F.expr(f"ABS(lon - fx) <= {CATCH_DEG!r}")
                    & F.expr(f"ABS(lat - fy) <= {CATCH_DEG!r}")))
           .groupBy("fk", "capacity")
           .agg(F.count(F.lit(1)).alias("demand")))
    r = dem.selectExpr(
        "fk", "capacity", "demand",
        "CAST(FLOOR(ROUND(CAST(capacity AS DOUBLE) / demand, 6) "
        "* 1000000.0 + 0.5) AS BIGINT) AS r_scaled")
    n = 1 << CATCH_LVL
    cells_all = spark.range(0, n * n).selectExpr(
        f"CAST(id / {n} AS BIGINT) AS cx", f"id % {n} AS cy",
        f"(CAST(id / {n} AS BIGINT) + 0.5) * {360.0 / n!r} - 180.0 AS clon",
        f"(id % {n} + 0.5) * {170.0 / n!r} - 85.0 AS clat")
    acc = (cells_all.join(
        F.broadcast(r.join(F.broadcast(fac.select("fk", "fx", "fy")),
                           "fk")),
        (F.expr(f"ABS(clon - fx) <= {CATCH_DEG!r}")
         & F.expr(f"ABS(clat - fy) <= {CATCH_DEG!r}")))
        .groupBy("cx", "cy")
        .agg(F.sum("r_scaled").alias("a_scaled"),
             F.count(F.lit(1)).alias("n_fac")))
    return (acc.selectExpr("CAST(FLOOR(a_scaled / 5000000.0) AS BIGINT) "
                           "AS bucket", "a_scaled", "n_fac", "cx", "cy")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("a_scaled").alias("sum_a"),
                 F.sum("n_fac").alias("sum_fac"),
                 F.expr(f"SUM(cx * {n} + cy)").alias("checksum"))
            .selectExpr("CAST(bucket AS BIGINT) AS bucket",
                        "CAST(n_cells AS BIGINT) AS n_cells",
                        "CAST(sum_a AS BIGINT) AS sum_a_scaled",
                        "CAST(sum_fac AS BIGINT) AS n_coverages",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_catchment() -> str:
    fx, fy = _facility_sql("n_nationkey")
    n = 1 << CATCH_LVL
    return f"""
WITH fac AS MATERIALIZED (
  SELECT n_nationkey AS fk, {fx} AS fxx, {fy} AS fyy,
         100 + n_nationkey * 7 AS capacity
  FROM nation),
ev AS (
  SELECT {fixtures.EVENT_LON_SQL} AS lon, {fixtures.EVENT_LAT_SQL} AS lat
  FROM events),
dem AS (
  SELECT fk, capacity, COUNT(*) AS demand
  FROM ev JOIN fac ON ABS(lon - fxx) <= {CATCH_DEG!r}
                  AND ABS(lat - fyy) <= {CATCH_DEG!r}
  GROUP BY 1, 2),
r AS (
  SELECT fk, CAST(FLOOR(ROUND(CAST(capacity AS DOUBLE) / demand, 6)
              * 1000000.0 + 0.5) AS BIGINT) AS r_scaled
  FROM dem),
cells_all AS (
  SELECT CAST(FLOOR(id / {n}.0) AS BIGINT) AS cx, id % {n} AS cy,
         (CAST(FLOOR(id / {n}.0) AS BIGINT) + 0.5) * {360.0 / n!r} - 180.0
           AS clon,
         (id % {n} + 0.5) * {170.0 / n!r} - 85.0 AS clat
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {n * n - 1})) AS id) t),
acc AS (
  SELECT cx, cy, SUM(r_scaled) AS a_scaled, COUNT(*) AS n_fac
  FROM cells_all
  JOIN (SELECT r.fk, r.r_scaled, fac.fxx, fac.fyy
        FROM r JOIN fac ON r.fk = fac.fk) rf
    ON ABS(clon - rf.fxx) <= {CATCH_DEG!r}
   AND ABS(clat - rf.fyy) <= {CATCH_DEG!r}
  GROUP BY 1, 2)
SELECT CAST(FLOOR(a_scaled / 5000000.0) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(a_scaled) AS BIGINT) AS sum_a_scaled,
       CAST(SUM(n_fac) AS BIGINT) AS n_coverages,
       CAST(SUM(cx * {n} + cy) AS BIGINT) AS checksum
FROM acc GROUP BY 1
"""


# --- centroid_drift: weekly mean-center migration ------------------------------------
#
# The mean-center drift analysis (is activity migrating?): per
# (event_type, epoch week) the exact-µdeg mean center (integer moments,
# one division each) and the great-circle displacement from the previous
# week's center (LAG + the shared haversine literal, round-6).

def q_centroid_drift(spark, sf_dir):
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type AS g",
        "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) "
        "/ 604800000000) AS BIGINT) AS wk",
        f"{_EV_UDEG[0]} AS ix", f"{_EV_UDEG[1]} AS iy")
    c = (e.groupBy("g", "wk")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("ix").alias("sx"), F.sum("iy").alias("sy"))
         .selectExpr("g", "wk", "n",
                     "CAST(sx AS DOUBLE) / n / 1000000.0 AS cx",
                     "CAST(sy AS DOUBLE) / n / 1000000.0 AS cy"))
    lagd = c.selectExpr(
        "g", "wk", "n", "cx", "cy",
        "LAG(cx) OVER (PARTITION BY g ORDER BY wk) AS px",
        "LAG(cy) OVER (PARTITION BY g ORDER BY wk) AS py")
    km = _NDM_DIST.replace("by", "cy").replace("ay", "py") \
                  .replace("bx", "cx").replace("ax", "px")
    return lagd.selectExpr(
        "g", "CAST(wk AS BIGINT) AS week",
        "CAST(n AS BIGINT) AS n_events",
        "ROUND(cx, 6) AS center_lon", "ROUND(cy, 6) AS center_lat",
        f"CASE WHEN px IS NULL THEN CAST(NULL AS DOUBLE) ELSE {km} END "
        "AS km_moved")


def _oracle_drift() -> str:
    km = _NDM_DIST.replace("by", "cy").replace("ay", "py") \
                  .replace("bx", "cx").replace("ax", "px")
    return f"""
WITH e AS (
  SELECT event_type AS g,
         CAST(FLOOR(epoch_us(ts) / 604800000000) AS BIGINT) AS wk,
         {_EV_UDEG[0]} AS ix, {_EV_UDEG[1]} AS iy
  FROM events),
c AS (
  SELECT g, wk, COUNT(*) AS n,
         CAST(SUM(ix) AS DOUBLE) / COUNT(*) / 1000000.0 AS cx,
         CAST(SUM(iy) AS DOUBLE) / COUNT(*) / 1000000.0 AS cy
  FROM e GROUP BY 1, 2),
lagd AS (
  SELECT g, wk, n, cx, cy,
         LAG(cx) OVER (PARTITION BY g ORDER BY wk) AS px,
         LAG(cy) OVER (PARTITION BY g ORDER BY wk) AS py
  FROM c)
SELECT g, CAST(wk AS BIGINT) AS week, CAST(n AS BIGINT) AS n_events,
       ROUND(cx, 6) AS center_lon, ROUND(cy, 6) AS center_lat,
       CASE WHEN px IS NULL THEN CAST(NULL AS DOUBLE) ELSE {km} END
         AS km_moved
FROM lagd
"""


# --- user_paths: top entry paths (first-3-event sequences) ---------------------------
#
# The product-analytics Sankey feed: each user's first three event types
# (ordered by time with event_id tiebreak) concatenated into a path
# string via THREE conditional maxes (no collect_list ordering trap),
# counted and top-10 ranked with a path tiebreak.

PATHS_TOPK = 10


def q_user_paths(spark, sf_dir):
    e = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type",
        "ROW_NUMBER() OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id) AS rn")
    per = (e.where("rn <= 3")
           .groupBy("user_id")
           .agg(*[F.expr(f"MAX(CASE WHEN rn = {k} THEN event_type END)")
                  .alias(f"s{k}") for k in (1, 2, 3)])
           .selectExpr("CONCAT_WS('>', COALESCE(s1, '-'), "
                       "COALESCE(s2, '-'), COALESCE(s3, '-')) AS path"))
    top = (per.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
           .selectExpr("path", "n_users",
                       "ROW_NUMBER() OVER (ORDER BY n_users DESC, path) "
                       "AS rk"))
    return (top.where(f"rk <= {PATHS_TOPK}")
            .selectExpr("CAST(rk AS INT) AS rk", "path",
                        "CAST(n_users AS BIGINT) AS n_users"))


def _oracle_paths() -> str:
    return f"""
WITH e AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
per AS (
  SELECT user_id,
         CONCAT_WS('>',
           COALESCE(MAX(CASE WHEN rn = 1 THEN event_type END), '-'),
           COALESCE(MAX(CASE WHEN rn = 2 THEN event_type END), '-'),
           COALESCE(MAX(CASE WHEN rn = 3 THEN event_type END), '-'))
           AS path
  FROM e WHERE rn <= 3 GROUP BY 1),
top AS (
  SELECT path, COUNT(*) AS n_users,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path) AS rk
  FROM per GROUP BY 1)
SELECT CAST(rk AS INT) AS rk, path, CAST(n_users AS BIGINT) AS n_users
FROM top WHERE rk <= {PATHS_TOPK}
"""


QUERIES.update({
    "catchment_accessibility": (q_catchment_accessibility,
                                _oracle_catchment()),
    "centroid_drift": (q_centroid_drift, _oracle_drift()),
    "user_paths": (q_user_paths, _oracle_paths()),
})


# --- control_chart: SPC 3-sigma monitoring with exact integer tests ------------------
#
# The ops-monitoring classic (Shewhart chart, Western Electric rule 1)
# made EXACT: a point violates iff (c − µ)² > 9σ², which cross-multiplies
# to (n·c − Sx)² > 9·(n·Sxx − Sx²) — pure int64 at any aggregation order
# (n·c ~2e7, squares ~4e14 at 100M rows), so the violation count and the
# worst-hour argmax (packed deviation²·2²⁰ − h, the changepoint trick)
# never touch a float; µ and σ emerge once as round-6 literals.

def q_control_chart(spark, sf_dir):
    hourly = (_t(spark, sf_dir, "events")
              .selectExpr("event_type AS g",
                          "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ))"
                          " / 3600000000) AS BIGINT) AS h")
              .groupBy("g", "h").agg(F.count(F.lit(1)).alias("c")))
    m = hourly.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("sx"),
        F.expr("SUM(c * c)").alias("sxx"))
    j = hourly.join(F.broadcast(m), "g").selectExpr(
        "g", "h", "c", "n", "sx", "sxx",
        "(n * c - sx) * (n * c - sx) AS dev2",
        "9 * (n * sxx - sx * sx) AS lim")
    return (j.groupBy("g")
            .agg(F.max("n").alias("n"), F.max("sx").alias("sx"),
                 F.max("sxx").alias("sxx"),
                 F.expr("SUM(CASE WHEN dev2 > lim THEN 1 ELSE 0 END)")
                 .alias("n_violations"))
            .selectExpr(
                "g", "CAST(n AS BIGINT) AS n_hours",
                "CAST(n_violations AS BIGINT) AS n_violations",
                "ROUND(CAST(sx AS DOUBLE) / n, 6) AS mu",
                "ROUND(SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx "
                "/ n) / n), 6) AS sigma"))


def _oracle_control() -> str:
    return """
WITH hourly AS (
  SELECT event_type AS g,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2),
m AS (
  SELECT g, COUNT(*) AS n, SUM(c) AS sx, SUM(c * c) AS sxx
  FROM hourly GROUP BY 1),
j AS (
  SELECT hourly.g, h, c, n, sx, sxx,
         (n * c - sx) * (n * c - sx) AS dev2,
         9 * (n * sxx - sx * sx) AS lim
  FROM hourly JOIN m ON hourly.g = m.g)
SELECT g, CAST(MAX(n) AS BIGINT) AS n_hours,
       CAST(SUM(CASE WHEN dev2 > lim THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations,
       ROUND(CAST(MAX(sx) AS DOUBLE) / MAX(n), 6) AS mu,
       ROUND(SQRT((CAST(MAX(sxx) AS DOUBLE) - CAST(MAX(sx) AS DOUBLE)
             * MAX(sx) / MAX(n)) / MAX(n)), 6) AS sigma
FROM j GROUP BY g
"""


# --- quadrat_test: CSR (complete spatial randomness) quadrat analysis ----------------
#
# The point-pattern screening test: over the FULL level-6 lattice (empty
# cells included via closed form), χ² = Σ(x − µ)²/µ with µ = N/n_cells —
# scaled to Σ(n_cells·x − N)² / (n_cells·N), whose numerator is exact
# int64 (occupied terms + n_empty·N² for the empties).  Index of
# dispersion = χ²/(n_cells − 1) rides the same integers.

QUAD_LVL = 6


def q_quadrat_test(spark, sf_dir):
    ncells = (1 << QUAD_LVL) ** 2
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, QUAD_LVL)
    cnt = (_t(spark, sf_dir, "events")
           .selectExpr(f"{ix} AS ix", f"{iy} AS iy")
           .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("x")))
    m = cnt.groupBy().agg(
        F.count(F.lit(1)).alias("nocc"), F.sum("x").alias("nn"),
        F.expr("SUM(CAST(x AS DECIMAL(38, 0)) * x)").alias("sxx"))
    return m.selectExpr(
        f"CAST({ncells} AS BIGINT) AS n_cells",
        "CAST(nocc AS BIGINT) AS n_occupied",
        "CAST(nn AS BIGINT) AS n_events",
        # chi2 = (C*Sxx - N^2) / N: the closed form of the full-lattice
        # quadrat sum with empty cells folded in (each contributes mu^2/mu)
        f"ROUND((CAST({ncells} AS DOUBLE) * CAST(sxx AS DOUBLE) "
        f"- CAST(nn AS DOUBLE) * nn) / nn, 6) AS chi2",
        f"ROUND(((CAST({ncells} AS DOUBLE) * CAST(sxx AS DOUBLE) "
        f"- CAST(nn AS DOUBLE) * nn) / nn) / ({ncells} - 1), 6) "
        "AS dispersion_index")


def _oracle_quadrat() -> str:
    ncells = (1 << QUAD_LVL) ** 2
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, QUAD_LVL)
    return f"""
WITH cnt AS (
  SELECT {ix} AS ix, {iy} AS iy, COUNT(*) AS x
  FROM events GROUP BY 1, 2),
m AS (
  SELECT COUNT(*) AS nocc, SUM(x) AS nn,
         SUM(CAST(x AS DECIMAL(38, 0)) * x) AS sxx
  FROM cnt)
SELECT CAST({ncells} AS BIGINT) AS n_cells,
       CAST(nocc AS BIGINT) AS n_occupied,
       CAST(nn AS BIGINT) AS n_events,
       ROUND((CAST({ncells} AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(nn AS DOUBLE) * nn) / nn, 6) AS chi2,
       ROUND(((CAST({ncells} AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(nn AS DOUBLE) * nn) / nn) / ({ncells} - 1), 6)
         AS dispersion_index
FROM m
"""


QUERIES.update({
    "control_chart": (q_control_chart, _oracle_control()),
    "quadrat_test": (q_quadrat_test, _oracle_quadrat()),
})


# --- sample_fidelity: does a deterministic sample preserve the distribution? ---------
#
# The sampling-QA pass of a curation pipeline: take the hash-deterministic
# 10% sample (mix(event_id·41+7) % 10 = 0) and measure, per event type,
# the 1-D Wasserstein distance between the sample's and the population's
# hourly CDFs — kept EXACT by integer cross-multiplication (the
# distribution_drift rule): W·N1·N2 = Σ_h |F1(h)·N2 − F2(h)·N1| is int64,
# one division at the end.  Bins ride one hour-keyed aggregate.

def q_sample_fidelity(spark, sf_dir):
    from .hashing import mix_sql
    sel = f"({mix_sql('event_id * 41 + 7')}) % 10 = 0"
    hourly = (_t(spark, sf_dir, "events")
              .selectExpr("event_type AS g",
                          "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ))"
                          " / 3600000000) AS BIGINT) AS h",
                          f"CASE WHEN {sel} THEN 1 ELSE 0 END AS ins")
              .groupBy("g", "h")
              .agg(F.count(F.lit(1)).alias("c1"),
                   F.sum("ins").alias("c2")))
    w = "PARTITION BY g ORDER BY h"
    cdf = hourly.selectExpr(
        "g", "h", "c1", "c2",
        f"SUM(c1) OVER ({w} ROWS UNBOUNDED PRECEDING) AS f1",
        f"SUM(c2) OVER ({w} ROWS UNBOUNDED PRECEDING) AS f2",
        "SUM(c1) OVER (PARTITION BY g) AS n1",
        "SUM(c2) OVER (PARTITION BY g) AS n2")
    m = cdf.groupBy("g").agg(
        F.max("n1").alias("n1"), F.max("n2").alias("n2"),
        F.expr("SUM(ABS(f1 * n2 - f2 * n1))").alias("wnum"),
        F.expr("MAX(ABS(f1 * n2 - f2 * n1))").alias("ksnum"))
    return m.selectExpr(
        "g", "CAST(n1 AS BIGINT) AS n_population",
        "CAST(n2 AS BIGINT) AS n_sample",
        "ROUND(CAST(wnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 6) "
        "AS wasserstein_hours",
        "ROUND(CAST(ksnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 6) "
        "AS ks_distance")


def _oracle_fidelity() -> str:
    from .hashing import mix_sql
    sel = f"({mix_sql('event_id * 41 + 7')}) % 10 = 0"
    return f"""
WITH hourly AS (
  SELECT event_type AS g,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         COUNT(*) AS c1,
         SUM(CASE WHEN {sel} THEN 1 ELSE 0 END) AS c2
  FROM events GROUP BY 1, 2),
cdf AS (
  SELECT g, h, c1, c2,
         SUM(c1) OVER (PARTITION BY g ORDER BY h
                       ROWS UNBOUNDED PRECEDING) AS f1,
         SUM(c2) OVER (PARTITION BY g ORDER BY h
                       ROWS UNBOUNDED PRECEDING) AS f2,
         SUM(c1) OVER (PARTITION BY g) AS n1,
         SUM(c2) OVER (PARTITION BY g) AS n2
  FROM hourly),
m AS (
  SELECT g, MAX(n1) AS n1, MAX(n2) AS n2,
         SUM(ABS(f1 * n2 - f2 * n1)) AS wnum,
         MAX(ABS(f1 * n2 - f2 * n1)) AS ksnum
  FROM cdf GROUP BY 1)
SELECT g, CAST(n1 AS BIGINT) AS n_population,
       CAST(n2 AS BIGINT) AS n_sample,
       ROUND(CAST(wnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 6)
         AS wasserstein_hours,
       ROUND(CAST(ksnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 6)
         AS ks_distance
FROM m
"""


# --- attribution_linear: multi-touch credit with exact fractional shares -------------
#
# Marketing attribution beyond last-touch (the attribution_pairs family's
# model step): for each converting user, the DISTINCT non-purchase
# channels seen strictly before the FIRST purchase share one conversion
# equally — credit 1/k scaled by 60 (the lcm of 1..4 possible set sizes)
# so every share is an exact integer.  First/last touch ride packed
# us·8+type min/max (no arg_min/min_by — the builtins differ across
# engines).  One user-keyed shuffle.

_AT_TYPES = ("click", "error", "signup", "view")


def q_attribution_linear(spark, sf_dir):
    tidx = ("CASE event_type " + " ".join(
        f"WHEN '{t}' THEN {k}" for k, t in enumerate(_AT_TYPES)) + " END")
    e = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type",
        "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us", f"{tidx} AS ti")
    fp = (e.where("event_type = 'purchase'")
          .groupBy("user_id").agg(F.min("us").alias("pus")))
    pre = (e.join(fp, "user_id").where("us < pus AND ti IS NOT NULL"))
    per = pre.groupBy("user_id").agg(
        F.countDistinct("ti").alias("k"),
        F.expr("MIN(us * 8 + ti)").alias("first_p"),
        F.expr("MAX(us * 8 + ti)").alias("last_p"))
    chan = (pre.select("user_id", "ti").distinct()
            .join(per, "user_id")
            .groupBy("ti")
            .agg(F.expr("SUM(CAST(60 / k AS BIGINT))").alias("credit60"),
                 F.count(F.lit(1)).alias("n_paths")))
    touches = per.selectExpr("first_p % 8 AS fti", "last_p % 8 AS lti")
    ft = touches.groupBy("fti").agg(F.count(F.lit(1)).alias("n_first"))
    lt = touches.groupBy("lti").agg(F.count(F.lit(1)).alias("n_last"))
    names = ("CASE ti " + " ".join(
        f"WHEN {k} THEN '{t}'" for k, t in enumerate(_AT_TYPES)) + " END")
    return (chan.join(ft, chan.ti == ft.fti, "left")
            .join(lt, chan.ti == lt.lti, "left")
            .selectExpr(f"{names} AS channel",
                        "CAST(credit60 AS BIGINT) AS credit_x60",
                        "CAST(n_paths AS BIGINT) AS n_paths",
                        "CAST(COALESCE(n_first, 0) AS BIGINT) AS n_first",
                        "CAST(COALESCE(n_last, 0) AS BIGINT) AS n_last"))


def _oracle_attribution() -> str:
    tidx = ("CASE event_type " + " ".join(
        f"WHEN '{t}' THEN {k}" for k, t in enumerate(_AT_TYPES)) + " END")
    names = ("CASE chan.ti " + " ".join(
        f"WHEN {k} THEN '{t}'" for k, t in enumerate(_AT_TYPES)) + " END")
    return f"""
WITH e AS MATERIALIZED (
  SELECT user_id, event_type, epoch_us(ts) AS us, {tidx} AS ti
  FROM events),
fp AS (
  SELECT user_id, MIN(us) AS pus FROM e
  WHERE event_type = 'purchase' GROUP BY 1),
pre AS MATERIALIZED (
  SELECT e.user_id, e.ti, e.us FROM e JOIN fp ON e.user_id = fp.user_id
  WHERE e.us < fp.pus AND e.ti IS NOT NULL),
per AS MATERIALIZED (
  SELECT user_id, COUNT(DISTINCT ti) AS k, MIN(us * 8 + ti) AS first_p,
         MAX(us * 8 + ti) AS last_p
  FROM pre GROUP BY 1),
chan AS (
  SELECT d.ti, SUM(CAST(60 / per.k AS BIGINT)) AS credit60,
         COUNT(*) AS n_paths
  FROM (SELECT DISTINCT user_id, ti FROM pre) d
  JOIN per ON d.user_id = per.user_id
  GROUP BY 1),
ft AS (SELECT first_p % 8 AS ti, COUNT(*) AS n_first FROM per GROUP BY 1),
lt AS (SELECT last_p % 8 AS ti, COUNT(*) AS n_last FROM per GROUP BY 1)
SELECT {names} AS channel,
       CAST(credit60 AS BIGINT) AS credit_x60,
       CAST(n_paths AS BIGINT) AS n_paths,
       CAST(COALESCE(ft.n_first, 0) AS BIGINT) AS n_first,
       CAST(COALESCE(lt.n_last, 0) AS BIGINT) AS n_last
FROM chan LEFT JOIN ft ON chan.ti = ft.ti LEFT JOIN lt ON chan.ti = lt.ti
"""


QUERIES.update({
    "sample_fidelity": (q_sample_fidelity, _oracle_fidelity()),
    "attribution_linear": (q_attribution_linear, _oracle_attribution()),
})


# --- boxcount_dimension: fractal box-counting of the event point set -----------------
#
# The box-counting (Minkowski) dimension of the activity footprint:
# occupied-cell counts N(l) at levels 2..7 all derive from ONE finest-
# level distinct set (coarser cells = bit-shifts of the level-7 indices,
# the tile_pyramid trick), and the dimension is the OLS slope of
# log2 N(l) on l — log2 via the round-6 LN snap, l exact.  A uniform
# space-filling pattern → slope ≈ 2; a point cluster → ≈ 0.

BOX_LVLS = (2, 3, 4, 5, 6, 7)


def q_boxcount_dimension(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, BOX_LVLS[-1])
    fine = (_t(spark, sf_dir, "events")
            .selectExpr(f"{ix} AS ix", f"{iy} AS iy")
            .distinct().localCheckpoint())
    per = None
    for lv in BOX_LVLS:
        sh = BOX_LVLS[-1] - lv
        c = (fine.selectExpr(
            f"CAST(FLOOR(ix / {float(1 << sh)!r}) AS BIGINT) AS cx",
            f"CAST(FLOOR(iy / {float(1 << sh)!r}) AS BIGINT) AS cy")
            .distinct()
            .groupBy().agg(F.count(F.lit(1)).alias(f"n{lv}"))
            .selectExpr(f"CAST({lv} AS BIGINT) AS l", f"n{lv} AS n"))
        per = c if per is None else per.unionAll(c)
    pts = per.selectExpr(
        "l", "n",
        "l * 1000000 AS x",
        "CAST(FLOOR(ROUND(LN(n) / LN(2), 6) * 1000000.0 + 0.5) AS BIGINT)"
        " AS y")
    m = pts.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.expr("SUM(x * x)").alias("sxx"),
        F.expr("SUM(x * y)").alias("sxy"),
        F.expr("SUM(y * y)").alias("syy"),
        F.expr(f"SUM(CASE WHEN l = {BOX_LVLS[0]} THEN n ELSE 0 END)")
        .alias("n_coarse"),
        F.expr(f"SUM(CASE WHEN l = {BOX_LVLS[-1]} THEN n ELSE 0 END)")
        .alias("n_fine"))
    return m.selectExpr(
        "CAST(n_coarse AS BIGINT) AS n_boxes_coarse",
        "CAST(n_fine AS BIGINT) AS n_boxes_fine",
        f"ROUND({_ZSLOPE}, 6) + 0.0 AS dimension",
        "ROUND(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) * "
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) / "
        "((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * "
        "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) "
        "AS r_squared")


def _oracle_boxcount() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, BOX_LVLS[-1])
    unions = "\nUNION ALL\n".join(f"""
  SELECT CAST({lv} AS BIGINT) AS l, COUNT(*) AS n FROM (
    SELECT DISTINCT
      CAST(FLOOR(ix / {float(1 << (BOX_LVLS[-1] - lv))!r}) AS BIGINT),
      CAST(FLOOR(iy / {float(1 << (BOX_LVLS[-1] - lv))!r}) AS BIGINT)
    FROM fine) t{lv}""" for lv in BOX_LVLS)
    return f"""
WITH fine AS MATERIALIZED (
  SELECT DISTINCT {ix} AS ix, {iy} AS iy FROM events),
per AS ({unions}),
pts AS (
  SELECT l, n, l * 1000000 AS x,
         CAST(FLOOR(ROUND(LN(n) / LN(2), 6) * 1000000.0 + 0.5) AS BIGINT)
           AS y
  FROM per),
m AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx,
         SUM(x * y) AS sxy, SUM(y * y) AS syy,
         SUM(CASE WHEN l = {BOX_LVLS[0]} THEN pts.n ELSE 0 END)
           AS n_coarse,
         SUM(CASE WHEN l = {BOX_LVLS[-1]} THEN pts.n ELSE 0 END) AS n_fine
  FROM pts)
SELECT CAST(n_coarse AS BIGINT) AS n_boxes_coarse,
       CAST(n_fine AS BIGINT) AS n_boxes_fine,
       ROUND({_ZSLOPE}, 6) + 0.0 AS dimension,
       ROUND(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) *
              (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) /
             ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
              (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
         AS r_squared
FROM m
"""


# --- interarrival_burstiness: Goh–Barabási burstiness of event timing ----------------
#
# Is activity Poisson-like or bursty?  Per-user inter-arrival gaps (µs,
# exact; both windows share ONE user-keyed exchange), population moments
# n/Σg/Σg² with the square in DECIMAL (g² ~7e24), and the burstiness
# coefficient B = (σ − µ)/(σ + µ) ∈ [−1, 1] composed in one round-6
# literal.  B ≈ 0 for exponential gaps, → 1 for heavy-tailed bursts.

def q_interarrival_burstiness(spark, sf_dir):
    e = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us",
        "event_id")
    g = (e.selectExpr(
        "us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) "
        "AS gap")
        .where("gap IS NOT NULL"))
    m = g.groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("gap").alias("sg"),
        F.expr("SUM(CAST(gap AS DECIMAL(38, 0)) * gap)").alias("sgg"))
    sig = ("SQRT((CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * sg / n) / n)")
    mu = "(CAST(sg AS DOUBLE) / n)"
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_gaps",
        f"ROUND({mu} / 1000000.0, 6) AS mean_gap_s",
        f"ROUND({sig} / {mu}, 6) AS cv",
        f"ROUND(({sig} - {mu}) / ({sig} + {mu}), 6) + 0.0 AS burstiness")


def _oracle_burstiness() -> str:
    sig = "SQRT((CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * sg / n) / n)"
    mu = "(CAST(sg AS DOUBLE) / n)"
    return f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
g AS (
  SELECT gap FROM (
    SELECT us - LAG(us) OVER (PARTITION BY user_id
                              ORDER BY us, event_id) AS gap
    FROM e)
  WHERE gap IS NOT NULL),
m AS (
  SELECT COUNT(*) AS n, SUM(gap) AS sg,
         SUM(CAST(gap AS DECIMAL(38, 0)) * gap) AS sgg
  FROM g)
SELECT CAST(n AS BIGINT) AS n_gaps,
       ROUND({mu} / 1000000.0, 6) AS mean_gap_s,
       ROUND({sig} / {mu}, 6) AS cv,
       ROUND(({sig} - {mu}) / ({sig} + {mu}), 6) + 0.0 AS burstiness
FROM m
"""


# --- abc_analysis: Pareto revenue classing of the part catalog -----------------------
#
# The inventory-management classic: parts ranked by exact-cents revenue,
# classed A/B/C at 80%/95% CUMULATIVE share — thresholds tested by
# integer cross-multiplication (cum·100 ≤ 80·total), so class boundaries
# never touch a float.  One part-keyed revenue shuffle; the rank window
# runs over the part aggregate.

def q_abc_analysis(spark, sf_dir):
    rev = (_t(spark, sf_dir, "lineitem")
           .selectExpr("l_partkey",
                       "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
                       " AS rc")
           .groupBy("l_partkey").agg(F.sum("rc").alias("rev")))
    w = "ORDER BY rev DESC, l_partkey"
    cum = rev.selectExpr(
        "l_partkey", "rev",
        f"SUM(rev) OVER ({w} ROWS UNBOUNDED PRECEDING) AS cum",
        "SUM(rev) OVER () AS total")
    cls = cum.selectExpr(
        "l_partkey", "rev",
        "CASE WHEN cum * 100 <= 80 * total THEN 'A' "
        "WHEN cum * 100 <= 95 * total THEN 'B' ELSE 'C' END AS abc",
        "total")
    return (cls.groupBy("abc")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.sum("rev").alias("revenue_cents"),
                 F.max("total").alias("total"),
                 F.sum("l_partkey").alias("checksum"))
            .selectExpr("abc", "CAST(n_parts AS BIGINT) AS n_parts",
                        "CAST(revenue_cents AS BIGINT) AS revenue_cents",
                        "ROUND(CAST(revenue_cents AS DOUBLE) / total, 6) "
                        "AS share",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_abc() -> str:
    return """
WITH rev AS (
  SELECT l_partkey,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS rev
  FROM lineitem GROUP BY 1),
cum AS (
  SELECT l_partkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(rev) OVER () AS total
  FROM rev),
cls AS (
  SELECT l_partkey, rev, total,
         CASE WHEN cum * 100 <= 80 * total THEN 'A'
              WHEN cum * 100 <= 95 * total THEN 'B' ELSE 'C' END AS abc
  FROM cum)
SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS BIGINT) AS revenue_cents,
       ROUND(CAST(SUM(rev) AS DOUBLE) / MAX(total), 6) AS share,
       CAST(SUM(l_partkey) AS BIGINT) AS checksum
FROM cls GROUP BY 1
"""


QUERIES.update({
    "boxcount_dimension": (q_boxcount_dimension, _oracle_boxcount()),
    "interarrival_burstiness": (q_interarrival_burstiness,
                                _oracle_burstiness()),
    "abc_analysis": (q_abc_analysis, _oracle_abc()),
})


# --- langid_confusion: classifier evaluation of the language-ID heuristic ------------
#
# The ML-eval layer over langid_heuristic: confusion matrix of
# (actual lang, predicted lang) with per-cell share and per-actual
# recall — all counts exact, shares single divisions.  Re-states the
# SAME prediction rule as the gated langid row, so a drift in either
# breaks one of the two gates.

def q_langid_confusion(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("double")
    en = F.size(F.filter(toks, lambda x: x.isin(
        "a", "the", "fast", "slow"))) / n
    de = F.size(F.filter(toks, lambda x: x.isin("der", "die", "und"))) / n
    pred = F.when(de > en, F.lit("de")).otherwise(F.lit("en"))
    cells_ = (d.select("lang", pred.alias("pred"))
              .groupBy("lang", "pred")
              .agg(F.count(F.lit(1)).alias("n_docs")))
    tot = cells_.selectExpr(
        "lang", "pred", "n_docs",
        "SUM(n_docs) OVER () AS total",
        "SUM(n_docs) OVER (PARTITION BY lang) AS n_actual")
    return tot.selectExpr(
        "lang AS actual", "pred AS predicted",
        "CAST(n_docs AS BIGINT) AS n_docs",
        "ROUND(CAST(n_docs AS DOUBLE) / total, 6) AS share",
        "ROUND(CAST(n_docs AS DOUBLE) / n_actual, 6) AS recall_of_actual")


ORACLE_LANGID_CONF = """
WITH t AS (
  SELECT lang,
         CASE WHEN
           CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ('der', 'die', 'und'))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) >
           CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ('a', 'the', 'fast', 'slow'))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE)
         THEN 'de' ELSE 'en' END AS pred
  FROM documents),
cells_ AS (
  SELECT lang, pred, COUNT(*) AS n_docs FROM t GROUP BY 1, 2),
tot AS (
  SELECT lang, pred, n_docs, SUM(n_docs) OVER () AS total,
         SUM(n_docs) OVER (PARTITION BY lang) AS n_actual
  FROM cells_)
SELECT lang AS actual, pred AS predicted,
       CAST(n_docs AS BIGINT) AS n_docs,
       ROUND(CAST(n_docs AS DOUBLE) / total, 6) AS share,
       ROUND(CAST(n_docs AS DOUBLE) / n_actual, 6) AS recall_of_actual
FROM tot
"""


# --- cover_level_invariance: the spatial join is resolution-independent --------------
#
# A self-consistency gate of the B4/B7 machinery: the SAME point-in-
# polygon join (events × nation fences) runs at THREE cover levels —
# coarser cover = bigger candidate sets, same exact refine — and the
# matched-pair count and id checksum must be IDENTICAL per level.  The
# oracle computes the level-free ground truth once (edge-table ray cast)
# and replicates it per level, so any level-dependent bug (cover gap,
# duplicate candidate surviving refine) breaks the gate.

COVER_LEVELS = (4, 5, 6)


def q_cover_level_invariance(spark, sf_dir):
    from . import spatial
    from .queries_spatial import _event_points, _nation_fences_df
    pts = _event_points(spark, sf_dir)
    polys = _nation_fences_df(spark, sf_dir)
    out = None
    for lv in COVER_LEVELS:
        j = spatial.spatial_join(pts, polys, "lon", "lat", level=lv,
                                 broadcast_cover=True)
        o = (j.groupBy()
             .agg(F.count(F.lit(1)).alias("n_pairs"),
                  F.expr("SUM(event_id * 31 + poly_id)").alias("checksum"))
             .selectExpr(f"CAST({lv} AS INT) AS cover_level",
                         "CAST(n_pairs AS BIGINT) AS n_pairs",
                         "CAST(checksum AS BIGINT) AS checksum"))
        out = o if out is None else out.unionAll(o)
    return out


def _oracle_cover_invariance() -> str:
    from . import geom
    from .queries_spatial import EVENT_POINTS_SQL
    per_level = "\nUNION ALL\n".join(f"""
SELECT CAST({lv} AS INT) AS cover_level,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(event_id * 31 + n_nationkey) AS BIGINT) AS checksum
FROM gt""" for lv in COVER_LEVELS)
    return f"""
WITH gt AS MATERIALIZED (
  SELECT e.event_id, g.n_nationkey
  FROM {EVENT_POINTS_SQL} e
  CROSS JOIN {fixtures.nation_edges_sql()} g
  GROUP BY e.event_id, g.n_nationkey, e.lon, e.lat
  HAVING SUM({geom.pip_sql('e.lon', 'e.lat')}) % 2 = 1)
{per_level}
"""


QUERIES.update({
    "langid_confusion": (q_langid_confusion, ORACLE_LANGID_CONF),
    "cover_level_invariance": (q_cover_level_invariance,
                               _oracle_cover_invariance()),
})


# --- l_diversity: sensitive-attribute diversity inside QI classes --------------------
#
# The k-anonymity companion: within each quasi-identifier class
# (event_type x hour-of-day x level-4 cell), how many DISTINCT sensitive
# values appear (sensitive = the user's hash decile — a deterministic
# stand-in for a real sensitive column)?  Classes with l < 3 are
# attribute-disclosure risks even when k is large.  Two aggregations,
# all exact; class sets QI-domain-bounded.

LDIV_L = 3


def q_l_diversity(spark, sf_dir):
    from .hashing import mix_sql
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, KANON_LVL)
    sens = f"({mix_sql('user_id * 13 + 11')}) % 10"
    cls = (_t(spark, sf_dir, "events")
           .selectExpr("event_type",
                       "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ))"
                       " / 3600000000) AS BIGINT) % 24 AS hod",
                       f"{ix} AS cx", f"{iy} AS cy", f"{sens} AS s")
           .groupBy("event_type", "hod", "cx", "cy")
           .agg(F.countDistinct("s").alias("l"),
                F.count(F.lit(1)).alias("sz")))
    return (cls.groupBy().agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("l").alias("min_l"),
        F.expr(f"SUM(CASE WHEN l < {LDIV_L} THEN 1 ELSE 0 END)")
        .alias("n_risky_classes"),
        F.expr(f"SUM(CASE WHEN l < {LDIV_L} THEN sz ELSE 0 END)")
        .alias("rows_in_risky"),
        F.sum("sz").alias("n_rows"))
        .selectExpr("CAST(n_classes AS BIGINT) AS n_classes",
                    "CAST(min_l AS BIGINT) AS min_l",
                    "CAST(n_risky_classes AS BIGINT) AS n_risky_classes",
                    "CAST(rows_in_risky AS BIGINT) AS rows_in_risky",
                    "ROUND(CAST(rows_in_risky AS DOUBLE) / n_rows, 6) "
                    "AS risky_share"))


def _oracle_ldiv() -> str:
    from .hashing import mix_sql
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, KANON_LVL)
    sens = f"({mix_sql('user_id * 13 + 11')}) % 10"
    return f"""
WITH cls AS (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) % 24 AS hod,
         {ix} AS cx, {iy} AS cy,
         COUNT(DISTINCT {sens}) AS l, COUNT(*) AS sz
  FROM events GROUP BY 1, 2, 3, 4)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(l) AS BIGINT) AS min_l,
       CAST(SUM(CASE WHEN l < {LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_risky_classes,
       CAST(SUM(CASE WHEN l < {LDIV_L} THEN sz ELSE 0 END) AS BIGINT)
         AS rows_in_risky,
       ROUND(CAST(SUM(CASE WHEN l < {LDIV_L} THEN sz ELSE 0 END)
             AS DOUBLE) / SUM(sz), 6) AS risky_share
FROM cls
"""


# --- clark_evans: nearest-neighbor spatial randomness index --------------------------
#
# The Clark–Evans R (observed mean NN distance / CSR expectation
# 0.5/sqrt(density)) over purchase points, with NN candidates from the
# Knox 3x3 cell ring at level 6: points whose nearest neighbor lies
# beyond the ring are counted out (n_covered reported — the truncated-NN
# convention, deterministic on both engines).  Per-point NN distances
# snap to round-6 µdeg ints before the sum, so the mean is exact.

CE_TYPE = "purchase"
CE_CELL = 6


def q_clark_evans(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, CE_CELL)
    e = (_t(spark, sf_dir, "events")
         .where(f"event_type = '{CE_TYPE}'")
         .selectExpr("event_id", f"{_EV_UDEG[0]} AS ux",
                     f"{_EV_UDEG[1]} AS uy", f"{ix} AS cx", f"{iy} AS cy")
         .localCheckpoint())
    a = e.selectExpr("event_id AS a_id", "ux AS aux", "uy AS auy",
                     "explode(sequence(cx - 1, cx + 1)) AS jx", "cy AS acy")
    a = a.selectExpr("a_id", "aux", "auy", "jx",
                     "explode(sequence(acy - 1, acy + 1)) AS jy")
    b = e.selectExpr("event_id", "ux", "uy", "cx AS jx", "cy AS jy")
    nn = (a.join(b, ["jx", "jy"]).where("a_id <> event_id")
          .selectExpr("a_id", "(aux - ux) * (aux - ux) + "
                      "(auy - uy) * (auy - uy) AS d2")
          .groupBy("a_id").agg(F.min("d2").alias("d2min")))
    snapped = nn.selectExpr(
        "CAST(FLOOR(ROUND(SQRT(d2min), 6) * 1000000.0 + 0.5) AS BIGINT) "
        "AS nn_snapped")
    cov = snapped.groupBy().agg(F.count(F.lit(1)).alias("n_cov"),
                                F.sum("nn_snapped").alias("s_nn"))
    tot = e.groupBy().agg(F.count(F.lit(1)).alias("n_pts"))
    return (tot.crossJoin(cov)
            .selectExpr(
                "CAST(n_pts AS BIGINT) AS n_points",
                "CAST(n_cov AS BIGINT) AS n_covered",
                "ROUND(CAST(s_nn AS DOUBLE) / n_cov / 1000000000000.0, 6)"
                " AS mean_nn_deg",
                "ROUND((CAST(s_nn AS DOUBLE) / n_cov / 1000000000000.0) /"
                " (0.5 / SQRT(n_pts / 61200.0)), 6) AS r_index"))


def _oracle_clark_evans() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, CE_CELL)
    return f"""
WITH e AS MATERIALIZED (
  SELECT event_id, {_EV_UDEG[0]} AS ux, {_EV_UDEG[1]} AS uy,
         {ix} AS cx, {iy} AS cy
  FROM events WHERE event_type = '{CE_TYPE}'),
nn AS (
  SELECT a.event_id AS a_id,
         MIN((a.ux - b.ux) * (a.ux - b.ux) +
             (a.uy - b.uy) * (a.uy - b.uy)) AS d2min
  FROM (SELECT e.*, cx + dx.v AS jx, cy + dy.v AS jy
        FROM e, (SELECT UNNEST([-1, 0, 1]) AS v) dx,
             (SELECT UNNEST([-1, 0, 1]) AS v) dy) a
  JOIN e b ON b.cx = a.jx AND b.cy = a.jy AND a.event_id <> b.event_id
  GROUP BY 1),
cov AS (
  SELECT COUNT(*) AS n_cov,
         SUM(CAST(FLOOR(ROUND(SQRT(d2min), 6) * 1000000.0 + 0.5)
             AS BIGINT)) AS s_nn
  FROM nn),
tot AS (SELECT COUNT(*) AS n_pts FROM e)
SELECT CAST(n_pts AS BIGINT) AS n_points,
       CAST(n_cov AS BIGINT) AS n_covered,
       ROUND(CAST(s_nn AS DOUBLE) / n_cov / 1000000000000.0, 6)
         AS mean_nn_deg,
       ROUND((CAST(s_nn AS DOUBLE) / n_cov / 1000000000000.0) /
             (0.5 / SQRT(n_pts / 61200.0)), 6) AS r_index
FROM tot, cov
"""


# --- term_burst: spiking-term detection over the corpus calendar ---------------------
#
# The trending-topics primitive: a term bursts on the day where its
# daily share most exceeds its corpus share — ratio = (c_td·N)/(c_t·n_d)
# from four exact counts, ranked on the ROUNDED ratio with (term, day)
# tiebreaks.  Day = doc_id % 30 (documents carry no timestamp; the
# deterministic day assignment is the fixture's calendar).

BURST_TOPK = 5


def q_term_burst(spark, sf_dir):
    toks = (_t(spark, sf_dir, "documents")
            .selectExpr("doc_id % 30 AS d",
                        "explode(split(text, ' ')) AS term"))
    td = toks.groupBy("term", "d").agg(F.count(F.lit(1)).alias("ctd"))
    t = td.groupBy("term").agg(F.sum("ctd").alias("ct"))
    dd = td.groupBy("d").agg(F.sum("ctd").alias("nd"))
    nn = td.groupBy().agg(F.sum("ctd").alias("nn"))
    scored = (td.join(F.broadcast(t), "term").join(F.broadcast(dd), "d")
              .crossJoin(F.broadcast(nn))
              .selectExpr("term", "d", "ctd",
                          "ROUND(CAST(ctd AS DOUBLE) * nn / "
                          "(CAST(ct AS DOUBLE) * nd), 6) AS ratio"))
    per_term = scored.selectExpr(
        "term", "d", "ctd", "ratio",
        "ROW_NUMBER() OVER (PARTITION BY term ORDER BY ratio DESC, d) "
        "AS rk_in")
    top = per_term.where("rk_in = 1").selectExpr(
        "term", "d", "ctd", "ratio",
        "ROW_NUMBER() OVER (ORDER BY ratio DESC, term) AS rk")
    return (top.where(f"rk <= {BURST_TOPK}")
            .selectExpr("CAST(rk AS INT) AS rk", "term",
                        "CAST(d AS BIGINT) AS peak_day",
                        "CAST(ctd AS BIGINT) AS n_that_day", "ratio"))


def _oracle_burst_terms() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id % 30 AS d, UNNEST(string_split(text, ' ')) AS term
  FROM documents),
td AS (SELECT term, d, COUNT(*) AS ctd FROM toks GROUP BY 1, 2),
t AS (SELECT term, SUM(ctd) AS ct FROM td GROUP BY 1),
dd AS (SELECT d, SUM(ctd) AS nd FROM td GROUP BY 1),
nn AS (SELECT SUM(ctd) AS nn FROM td),
scored AS (
  SELECT td.term, td.d, td.ctd,
         ROUND(CAST(td.ctd AS DOUBLE) * nn.nn /
               (CAST(t.ct AS DOUBLE) * dd.nd), 6) AS ratio
  FROM td JOIN t ON td.term = t.term JOIN dd ON td.d = dd.d
  CROSS JOIN nn),
per_term AS (
  SELECT term, d, ctd, ratio,
         ROW_NUMBER() OVER (PARTITION BY term ORDER BY ratio DESC, d)
           AS rk_in
  FROM scored),
top AS (
  SELECT term, d, ctd, ratio,
         ROW_NUMBER() OVER (ORDER BY ratio DESC, term) AS rk
  FROM per_term WHERE rk_in = 1)
SELECT CAST(rk AS INT) AS rk, term, CAST(d AS BIGINT) AS peak_day,
       CAST(ctd AS BIGINT) AS n_that_day, ratio
FROM top WHERE rk <= {BURST_TOPK}
"""


QUERIES.update({
    "l_diversity": (q_l_diversity, _oracle_ldiv()),
    "clark_evans": (q_clark_evans, _oracle_clark_evans()),
    "term_burst": (q_term_burst, _oracle_burst_terms()),
})


# --- home_location: modal-cell inference per user -------------------------------------
#
# The mobility-mining staple: a user's "home" is their modal level-6
# cell, resolved WITHOUT floats by the packed argmax cnt·2^18 +
# (2^18−1−cell) (cell ids at level 6 are < 2^18; ties break to the
# smaller cell on both engines).  Output = the top-10 home cells by
# resident count — one user-cell shuffle, one user argmax, one tiny
# rollup.

HOME_LVL = 6
HOME_TOPK = 10


def q_home_location(spark, sf_dir):
    cell = cells.cell_sql(f"({fixtures.EVENT_LON_SQL})",
                          f"({fixtures.EVENT_LAT_SQL})", HOME_LVL)
    uc = (_t(spark, sf_dir, "events")
          .selectExpr("user_id", f"{cell} AS cell")
          .groupBy("user_id", "cell").agg(F.count(F.lit(1)).alias("cnt")))
    home = (uc.selectExpr(
        "user_id", "cnt * 262144 + (262143 - cell) AS packed")
        .groupBy("user_id").agg(F.max("packed").alias("best"))
        .selectExpr("user_id",
                    "262143 - best % 262144 AS home_cell",
                    "CAST(FLOOR(best / 262144.0) AS BIGINT) AS n_at_home"))
    tot = home.groupBy().agg(F.count(F.lit(1)).alias("n_users"))
    top = (home.groupBy("home_cell")
           .agg(F.count(F.lit(1)).alias("n_residents"),
                F.sum("n_at_home").alias("n_events_at_home"))
           .crossJoin(F.broadcast(tot))
           .selectExpr("home_cell", "n_residents", "n_events_at_home",
                       "n_users",
                       "ROW_NUMBER() OVER (ORDER BY n_residents DESC, "
                       "home_cell) AS rk"))
    return (top.where(f"rk <= {HOME_TOPK}")
            .selectExpr("CAST(rk AS INT) AS rk",
                        "CAST(home_cell AS BIGINT) AS home_cell",
                        "CAST(n_residents AS BIGINT) AS n_residents",
                        "CAST(n_events_at_home AS BIGINT) "
                        "AS n_events_at_home",
                        "ROUND(CAST(n_residents AS DOUBLE) / n_users, 6) "
                        "AS resident_share"))


def _oracle_home() -> str:
    cell = cells.cell_sql(f"({fixtures.EVENT_LON_SQL})",
                          f"({fixtures.EVENT_LAT_SQL})", HOME_LVL)
    return f"""
WITH uc AS (
  SELECT user_id, {cell} AS cell, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
home AS (
  SELECT user_id,
         262143 - MAX(cnt * 262144 + (262143 - cell)) % 262144
           AS home_cell,
         CAST(FLOOR(MAX(cnt * 262144 + (262143 - cell)) / 262144.0)
              AS BIGINT) AS n_at_home
  FROM uc GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_users FROM home),
top AS (
  SELECT home_cell, COUNT(*) AS n_residents,
         SUM(n_at_home) AS n_events_at_home, MAX(tot.n_users) AS n_users,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, home_cell) AS rk
  FROM home CROSS JOIN tot GROUP BY home_cell)
SELECT CAST(rk AS INT) AS rk, CAST(home_cell AS BIGINT) AS home_cell,
       CAST(n_residents AS BIGINT) AS n_residents,
       CAST(n_events_at_home AS BIGINT) AS n_events_at_home,
       ROUND(CAST(n_residents AS DOUBLE) / n_users, 6) AS resident_share
FROM top WHERE rk <= {HOME_TOPK}
"""


# --- region_covisitation: fence-pair co-visit matrix ----------------------------------
#
# The place-recommendation / mobility-flow composition: the REAL spatial
# join (events PIP nation fences) feeds the basket pattern — distinct
# (user, fence) visits, per-user fence pairs (bounded by 25² per user,
# never fences² globally), top-10 pairs.  The oracle recomputes the
# visits from the edge-table ray cast — so this row gates the spatial
# join and the pair logic TOGETHER.

COVIS_TOPK = 10


def q_region_covisitation(spark, sf_dir):
    from . import spatial
    from .queries_spatial import _event_points, _nation_fences_df
    pts = _event_points(spark, sf_dir)
    polys = _nation_fences_df(spark, sf_dir)
    j = spatial.spatial_join(pts, polys, "lon", "lat", level=6,
                             broadcast_cover=True)
    visits = j.select("user_id", "poly_id").distinct().localCheckpoint()
    a = visits.selectExpr("user_id", "poly_id AS pa")
    b = visits.selectExpr("user_id", "poly_id AS pb")
    pairs = (a.join(b, "user_id").where("pa < pb")
             .groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("n_users")))
    top = pairs.selectExpr(
        "pa", "pb", "n_users",
        "ROW_NUMBER() OVER (ORDER BY n_users DESC, pa, pb) AS rk")
    return (top.where(f"rk <= {COVIS_TOPK}")
            .selectExpr("CAST(rk AS INT) AS rk",
                        "CAST(pa AS BIGINT) AS nation_a",
                        "CAST(pb AS BIGINT) AS nation_b",
                        "CAST(n_users AS BIGINT) AS n_users"))


def _oracle_covisitation() -> str:
    from . import geom
    from .queries_spatial import EVENT_POINTS_SQL
    return f"""
WITH visits AS MATERIALIZED (
  SELECT DISTINCT e.user_id, g.n_nationkey AS poly
  FROM {EVENT_POINTS_SQL} e
  CROSS JOIN {fixtures.nation_edges_sql()} g
  GROUP BY e.event_id, e.user_id, g.n_nationkey, e.lon, e.lat
  HAVING SUM({geom.pip_sql('e.lon', 'e.lat')}) % 2 = 1),
pairs AS (
  SELECT a.poly AS pa, b.poly AS pb, COUNT(*) AS n_users
  FROM visits a JOIN visits b
    ON a.user_id = b.user_id AND a.poly < b.poly
  GROUP BY 1, 2),
top AS (
  SELECT pa, pb, n_users,
         ROW_NUMBER() OVER (ORDER BY n_users DESC, pa, pb) AS rk
  FROM pairs)
SELECT CAST(rk AS INT) AS rk, CAST(pa AS BIGINT) AS nation_a,
       CAST(pb AS BIGINT) AS nation_b, CAST(n_users AS BIGINT) AS n_users
FROM top WHERE rk <= {COVIS_TOPK}
"""


QUERIES.update({
    "home_location": (q_home_location, _oracle_home()),
    "region_covisitation": (q_region_covisitation, _oracle_covisitation()),
})


# --- percolation_sweep: largest-cluster share vs density threshold -------------------
#
# The percolation curve of the activity surface: at thresholds tau x mean
# occupied-cell count (tau = 1, 2, 4; integer cross-multiplied
# cnt·m >= tau·s, no float boundary), 8-adjacent supra-threshold cells
# merge via distributed connected components, and the largest-component
# share tells whether the hot surface is one connected mass (tau low) or
# isolated islands (tau high).  Spark runs graph.connected_components per
# threshold (grid-bounded); the oracle is one recursive transitive-
# closure CTE per threshold, unioned.

PERC_LVL = 6
PERC_TAUS = (1, 2, 4)


def q_percolation_sweep(spark, sf_dir):
    from .graph import connected_components
    n = 1 << PERC_LVL
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, PERC_LVL)
    cnt = (_t(spark, sf_dir, "events")
           .selectExpr(f"{ix} AS ix", f"{iy} AS iy")
           .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("cnt"))
           .localCheckpoint())
    stats = cnt.groupBy().agg(F.sum("cnt").alias("s"),
                              F.count(F.lit(1)).alias("m"))
    out = None
    for tau in PERC_TAUS:
        hot = (cnt.crossJoin(F.broadcast(stats))
               .where(f"cnt * m >= {tau} * s")
               .selectExpr("ix", "iy", "cnt", f"ix * {n} + iy AS key")
               .localCheckpoint())
        nbr = (hot.selectExpr("key", "ix", "iy",
                              "explode(sequence(-1, 1)) AS dx")
               .selectExpr("key", "ix", "iy", "dx",
                           "explode(sequence(-1, 1)) AS dy")
               .where("NOT (dx = 0 AND dy = 0)")
               .selectExpr("key", "ix + dx AS nx", "iy + dy AS ny")
               .where(f"nx BETWEEN 0 AND {n - 1} AND "
                      f"ny BETWEEN 0 AND {n - 1}")
               .selectExpr("key", f"nx * {n} + ny AS nk"))
        edges = (nbr.join(hot.selectExpr("key AS nk"), "nk")
                 .where("key < nk")
                 .selectExpr("key AS src", "nk AS dst"))
        # tau=1 components sprawl (diameter >> the hop method's round
        # budget — under-merged labels observed at sf0.01); pointer
        # jumping converges in O(log diameter) rounds
        comp = connected_components(edges, "src", "dst", method="jump")
        lab = (hot.join(comp, hot["key"] == comp["node"], "left")
               .selectExpr("key", "cnt",
                           "COALESCE(component, key) AS cluster"))
        sizes = lab.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("sz"))
        o = (sizes.groupBy()
             .agg(F.count(F.lit(1)).alias("n_components"),
                  F.sum("sz").alias("n_hot"),
                  F.max("sz").alias("largest"))
             .selectExpr(f"CAST({tau} AS INT) AS tau",
                         "CAST(COALESCE(n_hot, 0) AS BIGINT) AS n_hot",
                         "CAST(COALESCE(n_components, 0) AS BIGINT) "
                         "AS n_components",
                         "CAST(COALESCE(largest, 0) AS BIGINT) AS largest",
                         "CASE WHEN n_hot IS NULL OR n_hot = 0 THEN "
                         "CAST(NULL AS DOUBLE) ELSE "
                         "ROUND(CAST(largest AS DOUBLE) / n_hot, 6) END "
                         "AS largest_share"))
        out = o if out is None else out.unionAll(o)
    return out


def _oracle_percolation() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, PERC_LVL)
    n = 1 << PERC_LVL
    blocks = []
    for tau in PERC_TAUS:
        blocks.append(f"""
hot{tau} AS MATERIALIZED (
  SELECT ix, iy, cnt, ix * {n} + iy AS key FROM cnts
  WHERE cnt * (SELECT COUNT(*) FROM cnts) >=
        {tau} * (SELECT SUM(cnt) FROM cnts)),
edges{tau} AS MATERIALIZED (
  SELECT e.s, e.d FROM (
    SELECT h.key AS s, (h.ix + dx.v) * {n} + (h.iy + dy.v) AS d
    FROM hot{tau} h
    CROSS JOIN (VALUES (-1), (0), (1)) AS dx(v)
    CROSS JOIN (VALUES (-1), (0), (1)) AS dy(v)
    WHERE NOT (dx.v = 0 AND dy.v = 0)
      AND h.ix + dx.v BETWEEN 0 AND {n - 1}
      AND h.iy + dy.v BETWEEN 0 AND {n - 1}) e
  JOIN hot{tau} h2 ON h2.key = e.d),
reach{tau}(k, m) AS (
  SELECT key, key FROM hot{tau}
  UNION
  SELECT r.k, e.d FROM reach{tau} r JOIN edges{tau} e ON e.s = r.m),
sizes{tau} AS (
  SELECT MIN(m) AS cluster, 1 AS one FROM reach{tau} GROUP BY k),
agg{tau} AS (
  SELECT CAST({tau} AS INT) AS tau, COUNT(*) AS n_hot,
         COUNT(DISTINCT cluster) AS n_components,
         MAX(csz) AS largest
  FROM (SELECT cluster, COUNT(*) OVER (PARTITION BY cluster) AS csz
        FROM sizes{tau}) t)""")
    sel = "\nUNION ALL\n".join(f"""
SELECT tau, CAST(COALESCE(n_hot, 0) AS BIGINT) AS n_hot,
       CAST(COALESCE(n_components, 0) AS BIGINT) AS n_components,
       CAST(COALESCE(largest, 0) AS BIGINT) AS largest,
       CASE WHEN n_hot IS NULL OR n_hot = 0 THEN CAST(NULL AS DOUBLE)
       ELSE ROUND(CAST(largest AS DOUBLE) / n_hot, 6) END
         AS largest_share
FROM agg{tau}""" for tau in PERC_TAUS)
    return f"""
WITH RECURSIVE cnts AS MATERIALIZED (
  SELECT {ix} AS ix, {iy} AS iy, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),{','.join(blocks)}
{sel}
"""


QUERIES.update({
    "percolation_sweep": (q_percolation_sweep, _oracle_percolation()),
})


# --- calibration_bins: reliability diagram of the purchase-share score ----------------
#
# The classifier-eval companion to langid_confusion / ab_test_ztest: use
# each user's purchase share as a deterministic score, bin it to deciles
# by the INTEGER bucket FLOOR(10·np/nt), and compare mean score vs
# observed conversion (share > 20%) per bin.  Mean scores are round-6-
# snapped ints before summation (the zipf rule), observed rates one
# division — a reliability diagram whose every cell is exact.

def q_calibration_bins(spark, sf_dir):
    per = (_t(spark, sf_dir, "events")
           .selectExpr("user_id",
                       "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 "
                       "END AS p")
           .groupBy("user_id")
           .agg(F.sum("p").alias("np_"), F.count(F.lit(1)).alias("nt")))
    scored = per.selectExpr(
        "CAST(FLOOR(10.0 * np_ / nt) AS BIGINT) AS bin",
        "CAST(FLOOR(ROUND(CAST(np_ AS DOUBLE) / nt, 6) * 1000000.0 + 0.5)"
        " AS BIGINT) AS score_snapped",
        "CASE WHEN np_ * 5 > nt THEN 1 ELSE 0 END AS conv")
    return (scored.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum("score_snapped").alias("s_score"),
                 F.sum("conv").alias("n_conv"))
            .selectExpr("CAST(bin AS BIGINT) AS bin",
                        "CAST(n_users AS BIGINT) AS n_users",
                        "ROUND(CAST(s_score AS DOUBLE) / n_users "
                        "/ 1000000.0, 6) AS mean_score",
                        "ROUND(CAST(n_conv AS DOUBLE) / n_users, 6) "
                        "AS observed_rate"))


def _oracle_calibration() -> str:
    return """
WITH per AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np_,
         COUNT(*) AS nt
  FROM events GROUP BY 1),
scored AS (
  SELECT CAST(FLOOR(10.0 * np_ / nt) AS BIGINT) AS bin,
         CAST(FLOOR(ROUND(CAST(np_ AS DOUBLE) / nt, 6) * 1000000.0 + 0.5)
              AS BIGINT) AS score_snapped,
         CASE WHEN np_ * 5 > nt THEN 1 ELSE 0 END AS conv
  FROM per)
SELECT CAST(bin AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(score_snapped) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
         AS mean_score,
       ROUND(CAST(SUM(conv) AS DOUBLE) / COUNT(*), 6) AS observed_rate
FROM scored GROUP BY 1
"""


# --- mad_outliers: robust (median/MAD) anomaly flags on the hourly series -------------
#
# The robust-statistics counterpart of control_chart (3σ breaks under
# heavy tails; MAD doesn't): per event type, the hourly-count median and
# the median absolute deviation come from EXPLICIT ranks over the tiny
# hourly aggregate (even-length medians use the lower-middle element —
# the same convention on both engines, no engine percentile builtin),
# and a point is anomalous iff |c − med| > 3·mad, an integer test.

def q_mad_outliers(spark, sf_dir):
    hourly = (_t(spark, sf_dir, "events")
              .selectExpr("event_type AS g",
                          "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ))"
                          " / 3600000000) AS BIGINT) AS h")
              .groupBy("g", "h").agg(F.count(F.lit(1)).alias("c"))
              .localCheckpoint())
    med = (hourly.selectExpr(
        "g", "c",
        "ROW_NUMBER() OVER (PARTITION BY g ORDER BY c, h) AS rk",
        "COUNT(*) OVER (PARTITION BY g) AS n")
        .where("rk * 2 = n OR rk * 2 = n + 1")
        .groupBy("g").agg(F.min("c").alias("med")))
    dev = (hourly.join(F.broadcast(med), "g")
           .selectExpr("g", "h", "c", "med", "ABS(c - med) AS ad"))
    mad = (dev.selectExpr(
        "g", "ad",
        "ROW_NUMBER() OVER (PARTITION BY g ORDER BY ad, h) AS rk",
        "COUNT(*) OVER (PARTITION BY g) AS n")
        .where("rk * 2 = n OR rk * 2 = n + 1")
        .groupBy("g").agg(F.min("ad").alias("mad")))
    flagged = (dev.join(F.broadcast(mad), "g")
               .selectExpr("g", "med", "mad",
                           "CASE WHEN ad > 3 * mad THEN 1 ELSE 0 END "
                           "AS out"))
    return (flagged.groupBy("g")
            .agg(F.count(F.lit(1)).alias("n_hours"),
                 F.max("med").alias("med"), F.max("mad").alias("mad"),
                 F.sum("out").alias("n_outliers"))
            .selectExpr("g", "CAST(n_hours AS BIGINT) AS n_hours",
                        "CAST(med AS BIGINT) AS median",
                        "CAST(mad AS BIGINT) AS mad",
                        "CAST(n_outliers AS BIGINT) AS n_outliers"))


def _oracle_mad() -> str:
    return """
WITH hourly AS (
  SELECT event_type AS g,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2),
med AS (
  SELECT g, MIN(c) AS med FROM (
    SELECT g, c, ROW_NUMBER() OVER (PARTITION BY g ORDER BY c, h) AS rk,
           COUNT(*) OVER (PARTITION BY g) AS n
    FROM hourly)
  WHERE rk * 2 = n OR rk * 2 = n + 1 GROUP BY 1),
dev AS (
  SELECT hourly.g, h, c, med, ABS(c - med) AS ad
  FROM hourly JOIN med ON hourly.g = med.g),
mad AS (
  SELECT g, MIN(ad) AS mad FROM (
    SELECT g, ad, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY ad, h)
             AS rk,
           COUNT(*) OVER (PARTITION BY g) AS n
    FROM dev)
  WHERE rk * 2 = n OR rk * 2 = n + 1 GROUP BY 1)
SELECT dev.g, CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(MAX(dev.med) AS BIGINT) AS median,
       CAST(MAX(mad.mad) AS BIGINT) AS mad,
       CAST(SUM(CASE WHEN dev.ad > 3 * mad.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev JOIN mad ON dev.g = mad.g
GROUP BY 1
"""


QUERIES.update({
    "calibration_bins": (q_calibration_bins, _oracle_calibration()),
    "mad_outliers": (q_mad_outliers, _oracle_mad()),
})


# --- image_curation_pipeline: the end-to-end image flagship --------------------------
#
# The image counterpart of shp_decode_index_join — four stages under ONE
# oracle: (1) REAL decode of a 48-image corpus with PLANTED duplicates
# (ids 40..47 carry the exact bytes and metadata of 0..7, re-keyed — the
# re-upload case), (2) quality filters on decoded content (Harris
# corners >= 1 AND colorfulness > 20 — both exact/round-6 from the same
# literals as their standalone rows), (3) exact-duplicate dedup on the
# content fingerprint (keep-min-id per fp), (4) level-3 tile rollup of
# the survivors.  The oracle replays every stage from the pixel formula
# with content id j = i mod 40.

PIPE_N = 40
PIPE_DUPS = 8
PIPE_LVL = 3


def q_image_curation_pipeline(spark, sf_dir):
    from . import multimodal
    base = fixtures.images_df(spark, PIPE_N, partitions=4)
    dups = base.where(f"CAST(substr(image_id, 4) AS BIGINT) < {PIPE_DUPS}") \
        .selectExpr(
            "concat('img', lpad(CAST(CAST(substr(image_id, 4) AS BIGINT) "
            f"+ {PIPE_N} AS STRING), 12, '0')) AS image_id",
            "bytes", "w", "h", "fmt", "caption", "phash", "lon", "lat")
    corpus = base.unionByName(dups).localCheckpoint()
    fp = multimodal.fingerprint_checksums(corpus)
    hc = multimodal.harris_checksums(corpus).select("image_id",
                                                    "n_corners")
    cm = multimodal.opponent_moment_checksums(corpus)
    colorful = cm.selectExpr(
        "image_id", "n_px AS n", "s_rg", "s_rg2", "s_yb", "s_yb2"
    ).selectExpr("image_id", f"{_CF_M} AS m")
    joined = (corpus.select("image_id", "lon", "lat")
              .join(fp, "image_id").join(hc, "image_id")
              .join(colorful, "image_id"))
    quality = joined.where("n_corners >= 1 AND m > 20.0")
    surv = (quality.selectExpr(
        "fp", "CAST(substr(image_id, 4) AS BIGINT) AS i", "lon", "lat",
        "n_corners")
        .groupBy("fp")
        .agg(F.min("i").alias("i"), F.count(F.lit(1)).alias("n_copies"),
             F.first("lon").alias("lon"), F.first("lat").alias("lat"),
             F.first("n_corners").alias("n_corners")))
    cell = cells.cell_sql("lon", "lat", PIPE_LVL)
    return (surv.selectExpr(f"{cell} AS cell", "i", "n_copies",
                            "n_corners")
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_copies").alias("n_with_dups"),
                 F.sum("n_corners").alias("sum_corners"),
                 F.sum("i").alias("checksum"))
            .selectExpr("CAST(cell AS BIGINT) AS cell",
                        "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_with_dups AS BIGINT) AS n_with_dups",
                        "CAST(sum_corners AS BIGINT) AS sum_corners",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_pipeline() -> str:
    from .hashing import mix_sql
    m = fixtures.images_meta_sql("j")
    px = mix_sql("j * 1000003 + yy.y * 4096 + xx.x * 4 + cc.c")
    v = (f"CASE WHEN fmt = 'qb' THEN CAST(FLOOR((({px}) % 256) / 4.0) "
         f"AS BIGINT) * 4 + 2 ELSE ({px}) % 256 END")
    pxg = mix_sql("j * 1000003 + yy.y * 4096 + xx.x * 4 + 1")
    vg = (f"CASE WHEN fmt = 'qb' THEN CAST(FLOOR((({pxg}) % 256) / 4.0) "
          f"AS BIGINT) * 4 + 2 ELSE ({pxg}) % 256 END")
    taps = ", ".join(f"({dy}, {dx}, {wx}, {wy})"
                     for dy, dx, wx, wy in _SOBEL_TAPS)
    cell = cells.cell_sql("lon", "lat", PIPE_LVL)
    return f"""
WITH content AS MATERIALIZED (
  SELECT j, {m['w']} AS w, {m['h']} AS h, {m['fmt']} AS fmt,
         {m['lon']} AS lon, {m['lat']} AS lat
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {PIPE_N - 1})) AS j) t),
pix AS MATERIALIZED (
  SELECT j, fmt, w, h, yy.y AS y, xx.x AS x, cc.c AS c, {v} AS v
  FROM content,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) xx,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc),
gpix AS MATERIALIZED (
  SELECT j, fmt, w, h, yy.y AS y, xx.x AS x, {vg} AS v
  FROM content,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) xx),
taps(dy, dx, wx, wy) AS (VALUES {taps}),
grad AS MATERIALIZED (
  SELECT * FROM (
    SELECT j, w, h, y - dy AS ty, x - dx AS tx,
           SUM(v * wx) AS gx, SUM(v * wy) AS gy
    FROM gpix, taps GROUP BY 1, 2, 3, 4, 5)
  WHERE ty BETWEEN 1 AND h - 2 AND tx BETWEEN 1 AND w - 2),
tens AS MATERIALIZED (
  SELECT * FROM (
    SELECT j, w, h, ty - oy.o AS cy2, tx - ox.o AS cx2,
           SUM(gx * gx) AS a, SUM(gy * gy) AS b, SUM(gx * gy) AS c
    FROM grad, (SELECT UNNEST([-1, 0, 1]) AS o) oy,
         (SELECT UNNEST([-1, 0, 1]) AS o) ox
    GROUP BY 1, 2, 3, 4, 5)
  WHERE cy2 BETWEEN 2 AND h - 3 AND cx2 BETWEEN 2 AND w - 3),
corners AS (
  SELECT j, SUM(CASE WHEN 20 * (a * b - c * c) - (a + b) * (a + b) > 0
                THEN 1 ELSE 0 END) AS n_corners
  FROM tens GROUP BY 1),
opp AS (
  SELECT j, COUNT(*) AS n, SUM(rg) AS s_rg, SUM(rg * rg) AS s_rg2,
         SUM(yb) AS s_yb, SUM(yb * yb) AS s_yb2
  FROM (
    SELECT j, y, x,
           SUM(CASE c WHEN 0 THEN v WHEN 1 THEN -v ELSE 0 END) AS rg,
           SUM(CASE c WHEN 0 THEN v WHEN 1 THEN v ELSE -2 * v END) AS yb
    FROM pix GROUP BY 1, 2, 3) t
  GROUP BY 1),
quality AS (
  SELECT c.j FROM corners c
  JOIN (SELECT j, n, s_rg, s_rg2, s_yb, s_yb2, {_CF_M} AS m FROM opp) q
    ON c.j = q.j
  WHERE c.n_corners >= 1 AND q.m > 20.0),
surv AS (
  -- quality passes per content; survivor = min id = j itself; copies =
  -- 2 for planted-duplicate content (j < {PIPE_DUPS}) else 1
  SELECT content.j, CASE WHEN content.j < {PIPE_DUPS} THEN 2 ELSE 1 END
           AS n_copies,
         lon, lat, corners.n_corners
  FROM content JOIN quality ON content.j = quality.j
  JOIN corners ON corners.j = content.j)
SELECT CAST({cell} AS BIGINT) AS cell,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_copies) AS BIGINT) AS n_with_dups,
       CAST(SUM(n_corners) AS BIGINT) AS sum_corners,
       CAST(SUM(j) AS BIGINT) AS checksum
FROM surv GROUP BY 1
"""


QUERIES.update({
    "image_curation_pipeline": (q_image_curation_pipeline,
                                _oracle_pipeline()),
})


# --- buffer_dissolve_cells: morphological buffer + region dissolve -------------
#
# The GIS buffer->dissolve pipeline on the cell lattice: each nation
# fence's level-6 cover is DILATED by one Chebyshev ring (the engine's
# cell_ring Arrow kernel — the same operator the kNN ring expansion
# uses), then DISSOLVED per region (distinct-cell union, the ST_Union
# equivalent that needs no geometry library at 100 TB: a groupBy on
# cell_id). Reports per region the union size vs the Σ of per-nation
# buffered covers — the overlap a dissolve removes. The oracle exploits
# that a rectangle's ring-1 dilation is the clamped expanded rectangle,
# so gate equality proves the Arrow ring kernel against closed-form
# box arithmetic.

BD_LVL = 6


def q_buffer_dissolve(spark, sf_dir):
    import pandas as pd
    from pyspark.sql import types as T
    from . import spatial
    from .queries_spatial import _nation_fences_df

    polys = _nation_fences_df(spark, sf_dir)
    cov = spatial.polygon_cover(polys, BD_LVL)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def ring1(cell: pd.Series) -> pd.Series:
        r = cells.cell_ring(cell.to_numpy(), 1)
        return pd.Series([row[row >= 0].tolist() for row in r])

    dil = (cov.select("poly_id", F.explode(ring1(F.col("cell_id")))
                      .alias("cell"))
           .distinct())
    n = _t(spark, sf_dir, "nation").selectExpr(
        "n_nationkey", "n_regionkey AS region")
    d = dil.join(F.broadcast(n), dil["poly_id"] == n["n_nationkey"])
    per_nation = d.groupBy("region", "poly_id").agg(
        F.count(F.lit(1)).alias("nc"))
    union = (d.select("region", "cell").distinct()
             .groupBy("region")
             .agg(F.count(F.lit(1)).alias("cells_union"),
                  F.sum("cell").alias("cell_checksum")))
    tot = per_nation.groupBy("region").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.sum("nc").alias("cells_sum"))
    return (tot.join(union, "region")
            .selectExpr("CAST(region AS BIGINT) AS region",
                        "CAST(n_nations AS BIGINT) AS n_nations",
                        "CAST(cells_sum AS BIGINT) AS cells_sum",
                        "CAST(cells_union AS BIGINT) AS cells_union",
                        "CAST(cell_checksum AS BIGINT) AS cell_checksum"))


def _oracle_buffer_dissolve() -> str:
    _bn = 1 << BD_LVL
    f = float(_bn)
    return f"""
WITH fences AS (
  SELECT n_nationkey, n_regionkey AS region,
         {fixtures.NATION_CLON_SQL} AS cx, {fixtures.NATION_CLAT_SQL} AS cy,
         {fixtures.NATION_HALF_SQL} AS hw
  FROM nation),
bounds AS (
  SELECT n_nationkey, region,
         GREATEST(0, LEAST({_bn - 1}, CAST(FLOOR((cx - hw + 180.0) / 360.0 * {f!r}) AS BIGINT)) - 1) AS ix0,
         LEAST({_bn - 1}, LEAST({_bn - 1}, CAST(FLOOR((cx + hw + 180.0) / 360.0 * {f!r}) AS BIGINT)) + 1) AS ix1,
         GREATEST(0, LEAST({_bn - 1}, CAST(FLOOR((cy - hw + 85.0) / 170.0 * {f!r}) AS BIGINT)) - 1) AS iy0,
         LEAST({_bn - 1}, LEAST({_bn - 1}, CAST(FLOOR((cy + hw + 85.0) / 170.0 * {f!r}) AS BIGINT)) + 1) AS iy1
  FROM fences),
dil AS (
  SELECT n_nationkey, region,
         {cells.morton_sql('gx.x', 'gy.y')} * {1 << cells.LEVEL_BITS} + {BD_LVL} AS cell
  FROM bounds,
       LATERAL (SELECT UNNEST(GENERATE_SERIES(ix0, ix1)) AS x) gx,
       LATERAL (SELECT UNNEST(GENERATE_SERIES(iy0, iy1)) AS y) gy),
per_nation AS (
  SELECT region, n_nationkey, COUNT(*) AS nc
  FROM dil GROUP BY 1, 2),
uni AS (
  SELECT region, COUNT(*) AS cells_union, SUM(cell) AS cell_checksum
  FROM (SELECT DISTINCT region, cell FROM dil) u GROUP BY 1)
SELECT CAST(t.region AS BIGINT) AS region,
       CAST(t.n_nations AS BIGINT) AS n_nations,
       CAST(t.cells_sum AS BIGINT) AS cells_sum,
       CAST(u.cells_union AS BIGINT) AS cells_union,
       CAST(u.cell_checksum AS BIGINT) AS cell_checksum
FROM (SELECT region, COUNT(*) AS n_nations, SUM(nc) AS cells_sum
      FROM per_nation GROUP BY 1) t
JOIN uni u ON u.region = t.region
"""


# --- contour_segments: marching squares over a synthetic DEM -------------------
#
# The raster iso-line extractor (completes the hillshade/slope/flow
# terrain family): for each 2x2 block of an integer paraboloid DEM,
# the 4-bit inside/outside case indexes the marching-squares segment
# count (0/15 -> 0; 5/10 -> the 2-segment saddles; else 1). The DEM is
# closed-form — z = (2x-G+1)^2 + (2y-G+1)^2, always ≡ 2 (mod 8) — and
# every iso level is ≡ 0 (mod 8), so the strict > corner test can never
# tie and the case is engine-independent exact. Map-only over G^2 cells
# (pure codegen, no join, no Python) + a 4-row groupBy; at a 10^6-pixel
# raster per image this is the mapInPandas shape the codec kernels use.

CT_G = 128
CT_LEVELS = (2048, 8192, 18432, 28800)


def _ct_case_sql(lvl: str) -> str:
    z = "((2 * {x} - {g})*(2 * {x} - {g}) + (2 * {y} - {g})*(2 * {y} - {g}))"
    g = CT_G - 1
    c00 = z.format(x="x", y="y", g=g)
    c10 = z.format(x="(x + 1)", y="y", g=g)
    c01 = z.format(x="x", y="(y + 1)", g=g)
    c11 = z.format(x="(x + 1)", y="(y + 1)", g=g)
    return (f"(CASE WHEN {c00} > {lvl} THEN 1 ELSE 0 END"
            f" + CASE WHEN {c10} > {lvl} THEN 2 ELSE 0 END"
            f" + CASE WHEN {c01} > {lvl} THEN 4 ELSE 0 END"
            f" + CASE WHEN {c11} > {lvl} THEN 8 ELSE 0 END)")


def q_contour_segments(spark, sf_dir):
    g1 = CT_G - 1
    anchors = spark.range(0, g1 * g1, 1, 8).selectExpr(
        f"id % {g1} AS x", f"id DIV {g1} AS y")
    lv = anchors.selectExpr(
        "x", "y",
        "explode(array(" + ",".join(str(v) for v in CT_LEVELS)
        + ")) AS lvl")
    c = lv.selectExpr("lvl", "x", "y", _ct_case_sql("lvl") + " AS cs")
    return (c.groupBy("lvl")
            .agg(F.sum(F.expr("CASE WHEN cs IN (0, 15) THEN 0 ELSE 1 END"))
                 .alias("n_cut"),
                 F.sum(F.expr("CASE WHEN cs IN (0, 15) THEN 0 "
                              "WHEN cs IN (5, 10) THEN 2 ELSE 1 END"))
                 .alias("n_segments"),
                 F.sum(F.expr(f"cs * (y * {g1} + x + 1)"))
                 .alias("checksum"))
            .selectExpr("CAST(lvl AS BIGINT) AS lvl",
                        "CAST(n_cut AS BIGINT) AS n_cut",
                        "CAST(n_segments AS BIGINT) AS n_segments",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_contour() -> str:
    g1 = CT_G - 1
    return f"""
WITH anchors AS (
  SELECT i % {g1} AS x, i // {g1} AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {g1 * g1 - 1})) AS i) t),
lv AS (
  SELECT x, y, lvl FROM anchors,
  (VALUES {", ".join(f"({v})" for v in CT_LEVELS)}) AS lvs(lvl)),
c AS (
  SELECT lvl, x, y, {_ct_case_sql("lvl")} AS cs FROM lv)
SELECT CAST(lvl AS BIGINT) AS lvl,
       CAST(SUM(CASE WHEN cs IN (0, 15) THEN 0 ELSE 1 END) AS BIGINT)
         AS n_cut,
       CAST(SUM(CASE WHEN cs IN (0, 15) THEN 0
                WHEN cs IN (5, 10) THEN 2 ELSE 1 END) AS BIGINT)
         AS n_segments,
       CAST(SUM(cs * (y * {g1} + x + 1)) AS BIGINT) AS checksum
FROM c GROUP BY 1
"""


QUERIES.update({
    "buffer_dissolve_cells": (q_buffer_dissolve, _oracle_buffer_dissolve()),
    "contour_segments": (q_contour_segments, _oracle_contour()),
})


# --- viewshed_los: scan-line line-of-sight over a procedural DEM ---------------
#
# The viewshed operator (completes the terrain family: hillshade ->
# slope -> contours -> visibility): an observer with a MAST-high antenna
# sits at the west end of every row of a wavy integer DEM; a cell is
# visible iff its elevation angle STRICTLY exceeds the running maximum
# of every nearer cell on the ray (the classic scan-line viewshed).
# Spark shape: one window per ray (PARTITION BY ray ORDER BY distance,
# ROWS UNBOUNDED PRECEDING .. 1 PRECEDING) -- at 100 TB this is the
# linear per-ray sweep, partition-parallel across rays, zero Python.
# Angles are one literal int->double division, so the strict-> compare
# is bit-deterministic on both engines (IEEE div of exact ints).

VS_G = 256   # cells per ray (targets x = 1 .. VS_G - 1)
VS_R = 64    # rays
VS_MAST = 50


def _vs_z_sql(x: str, y: str) -> str:
    from .hashing import mix_sql
    return f"({mix_sql(f'({y}) * 4096 + ({x})')} % 1024)"


_VS_ANG = "(CAST(z - z0 AS DOUBLE) / CAST(x AS DOUBLE))"
_VS_WIN = ("MAX(ang) OVER (PARTITION BY y ORDER BY x "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)")
_VS_OUT = (
    "CAST(band AS BIGINT) AS band",
    "CAST(COUNT(*) AS BIGINT) AS n_cells",
    "CAST(SUM(vis) AS BIGINT) AS n_visible",
    "CAST(SUM(vis * (x + y * 4096)) AS BIGINT) AS vis_checksum",
    "CAST(SUM(vis * z) AS BIGINT) AS vis_elev_sum",
)


def q_viewshed_los(spark, sf_dir):
    base = spark.range(0, VS_R * (VS_G - 1), 1, 8).selectExpr(
        f"id % {VS_G - 1} + 1 AS x", f"id DIV {VS_G - 1} AS y")
    z = base.selectExpr(
        "x", "y", f"{_vs_z_sql('x', 'y')} AS z",
        f"{_vs_z_sql('0', 'y')} + {VS_MAST} AS z0")
    a = z.selectExpr("x", "y", "z", f"{_VS_ANG} AS ang")
    v = a.selectExpr("x", "y", "z", "ang", f"{_VS_WIN} AS runmax")
    vis = v.selectExpr(
        "x", "y", "z", f"y DIV 8 AS band",
        "CASE WHEN runmax IS NULL OR ang > runmax THEN 1 ELSE 0 END AS vis")
    agg = vis.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("vis").alias("n_visible"),
        F.sum(F.expr("vis * (x + y * 4096)")).alias("vis_checksum"),
        F.sum(F.expr("vis * z")).alias("vis_elev_sum"))
    return agg.selectExpr(
        "CAST(band AS BIGINT) AS band",
        "CAST(n_cells AS BIGINT) AS n_cells",
        "CAST(n_visible AS BIGINT) AS n_visible",
        "CAST(vis_checksum AS BIGINT) AS vis_checksum",
        "CAST(vis_elev_sum AS BIGINT) AS vis_elev_sum")


def _oracle_viewshed() -> str:
    return f"""
WITH base AS (
  SELECT i % {VS_G - 1} + 1 AS x, i // {VS_G - 1} AS y
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {VS_R * (VS_G - 1) - 1})) AS i) t),
z AS (
  SELECT x, y, {_vs_z_sql('x', 'y')} AS z,
         {_vs_z_sql('0', 'y')} + {VS_MAST} AS z0
  FROM base),
a AS (SELECT x, y, z, {_VS_ANG} AS ang FROM z),
v AS (SELECT x, y, z, ang, {_VS_WIN} AS runmax FROM a),
vis AS (
  SELECT x, y, z, y // 8 AS band,
         CASE WHEN runmax IS NULL OR ang > runmax THEN 1 ELSE 0 END AS vis
  FROM v)
SELECT {', '.join(_VS_OUT)}
FROM vis GROUP BY band
"""


# --- snap_nearest_edge: map-matching points to the nearest polyline edge -------
#
# The map-matching primitive (snap GPS points to road segments): every
# event point snaps to its nearest nation-fence edge by clamped
# point-to-segment distance.  ONE dialect-shared SQL string runs on
# both engines: the small edge layer (|nations| x 4 rows) broadcasts
# under AQE, so the plan is a broadcast nested-loop + one exact-int
# argmin aggregation -- linear in points, never all-pairs on the big
# side.  Determinism: distance^2 is one literal float expression of
# exact inputs, floor-quantized to 1e-6 deg^2 BEFORE the argmin, and
# the argmin key packs (d2q, nationkey) into one BIGINT so MIN() is an
# exact integer total order (no float tie ambiguity can reach output).

def _snap_sql() -> str:
    from .queries_spatial import EVENT_POINTS_SQL
    return f"""
WITH st0 AS (
  SELECT e.event_id, g.n_nationkey,
         e.lon - g.x1 AS wx, e.lat - g.y1 AS wy,
         g.x2 - g.x1 AS dx, g.y2 - g.y1 AS dy
  FROM {EVENT_POINTS_SQL} e
  CROSS JOIN {fixtures.nation_edges_sql()} g),
st1 AS (
  SELECT event_id, n_nationkey, wx, wy, dx, dy,
         LEAST(1.0, GREATEST(0.0, (wx * dx + wy * dy)
                                  / (dx * dx + dy * dy))) AS tc
  FROM st0),
st2 AS (
  SELECT event_id, n_nationkey,
         CAST(FLOOR(((wx - tc * dx) * (wx - tc * dx)
                     + (wy - tc * dy) * (wy - tc * dy)) * 1000000.0)
              AS BIGINT) AS d2q
  FROM st1),
m AS (
  SELECT event_id, MIN(d2q * 32 + n_nationkey) AS k
  FROM st2 GROUP BY event_id),
dec AS (
  SELECT event_id, k % 32 AS nation,
         CAST((k - (k % 32)) / 32.0 AS BIGINT) AS d2q
  FROM m)
SELECT CAST(nation AS BIGINT) AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(d2q) AS BIGINT) AS sum_d2q,
       CAST(MIN(d2q) AS BIGINT) AS min_d2q,
       CAST(MAX(d2q) AS BIGINT) AS max_d2q
FROM dec GROUP BY nation
"""


def q_snap_nearest_edge(spark, sf_dir):
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_snap_sql())


# --- kneser_ney_bigram: interpolated Kneser-Ney bigram LM from counts ----------
#
# The LM-training step between raw token counts and held-out perplexity
# (lm_heldout_perplexity): interpolated Kneser-Ney with absolute
# discount d = 0.75 --
#   P_kn(w|v) = max(c(vw) - d, 0)/c(v.) + d * N1+(v.)/c(v.) * N1+(.w)/T
# where N1+ are continuation type counts and T = |distinct bigrams|.
# Everything derives from three exact-int count tables (one shuffle
# each) + a broadcast 1-row total; the probability composes the ints in
# ONE literal float expression shared with the oracle.  Top-20 by
# (count, v, w) via orderBy+limit = TakeOrdered, no global sort.

_PKN = ("(GREATEST(CAST(c_vw AS DOUBLE) - 0.75, 0.0) / CAST(c_v AS DOUBLE)"
        " + 0.75 * CAST(n1p_v AS DOUBLE) / CAST(c_v AS DOUBLE)"
        " * (CAST(n1p_w AS DOUBLE) / CAST(bt AS DOUBLE)))")


def q_kneser_ney_bigram(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(a.alias("v"), b.alias("w")))
    bg = d.select(F.explode(bigrams).alias("b")).select("b.v", "b.w")
    cvw = bg.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c_vw"))
    cv = cvw.groupBy("v").agg(F.sum("c_vw").alias("c_v"),
                              F.count(F.lit(1)).alias("n1p_v"))
    nw = cvw.groupBy("w").agg(F.count(F.lit(1)).alias("n1p_w"))
    tot = cvw.groupBy().agg(F.count(F.lit(1)).alias("bt"))
    j = (cvw.join(cv, "v").join(nw, "w").crossJoin(F.broadcast(tot)))
    top = j.orderBy(F.desc("c_vw"), "v", "w").limit(20)
    return top.selectExpr("v", "w", "CAST(c_vw AS BIGINT) AS c_vw",
                          f"ROUND({_PKN}, 6) AS p_kn")


ORACLE_KNESER_NEY = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
bg AS (
  SELECT ts[u.i] AS v, ts[u.i + 1] AS w
  FROM toks, UNNEST(range(1, len(ts))) AS u(i)),
cvw AS (SELECT v, w, COUNT(*) AS c_vw FROM bg GROUP BY 1, 2),
cv AS (SELECT v, SUM(c_vw) AS c_v, COUNT(*) AS n1p_v FROM cvw GROUP BY 1),
nw AS (SELECT w, COUNT(*) AS n1p_w FROM cvw GROUP BY 1),
t AS (SELECT COUNT(*) AS bt FROM cvw)
SELECT cvw.v, cvw.w, CAST(c_vw AS BIGINT) AS c_vw,
       ROUND({_PKN}, 6) AS p_kn
FROM cvw JOIN cv USING (v) JOIN nw USING (w) CROSS JOIN t
ORDER BY c_vw DESC, cvw.v, cvw.w LIMIT 20
"""


QUERIES.update({
    "viewshed_los": (q_viewshed_los, _oracle_viewshed()),
    "snap_nearest_edge": (q_snap_nearest_edge, _snap_sql()),
    "kneser_ney_bigram": (q_kneser_ney_bigram, ORACLE_KNESER_NEY),
})


# --- url_domain_stats: URL parsing + domain-level curation audit ---------------
#
# The RefinedWeb/C4 URL-filtering step: every document gets a
# deterministic synthetic URL (subdomain/domain/TLD drawn from fixed
# alphabets via the shared integer mix), the host and REGISTERED domain
# are extracted back out with regexp_extract (bracket-class patterns
# only -- the pii_scrub backslash rule), and the corpus rolls up per
# registered domain with a blocklist verdict.  ONE dialect-shared SQL
# string runs on both engines; at 100 TB the regex is per-row JVM
# codegen and the rollup is one map-side-combined groupBy on a
# low-cardinality key.

_URL_SUBS = ("www", "blog", "m", "news")
_URL_DOMS = ("acme", "globex", "initech", "umbrella",
             "hooli", "stark", "wayne", "spamco")
_URL_TLDS = ("com", "org", "biz")
URL_BLOCKLIST = ("spamco.com", "spamco.org", "spamco.biz", "hooli.biz")


def _url_case(col: str, salt: int, vals) -> str:
    from .hashing import mix_sql
    arms = " ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(vals))
    return f"(CASE {mix_sql(f'doc_id * 7 + {salt}')} % {len(vals)} {arms} END)"


def _url_sql() -> str:
    block = ", ".join(f"'{d}'" for d in URL_BLOCKLIST)
    return f"""
WITH u AS (
  SELECT doc_id, n_chars,
         'https://' || {_url_case('doc_id', 1, _URL_SUBS)} || '.'
          || {_url_case('doc_id', 2, _URL_DOMS)} || '.'
          || {_url_case('doc_id', 3, _URL_TLDS)}
          || '/p/' || CAST(doc_id AS BIGINT) || '/' AS url
  FROM documents),
h AS (
  SELECT doc_id, n_chars,
         regexp_extract(url, 'https://([^/]+)/', 1) AS host
  FROM u),
r AS (
  SELECT doc_id, n_chars, host,
         regexp_extract(host, '[a-z0-9]+[.]([a-z0-9]+[.][a-z]+)$', 1)
           AS rdom
  FROM h)
SELECT rdom AS domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(CASE WHEN rdom IN ({block}) THEN 1 ELSE 0 END AS BIGINT)
         AS blocked
FROM r GROUP BY rdom
"""


def q_url_domain_stats(spark, sf_dir):
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_url_sql())


# --- decision_stump: best 1-feature split by weighted Gini impurity ------------
#
# The CART/GBDT split-finding primitive (one boosting round's inner
# loop): orders bucket by price (FLOOR(total/1000)), the label is
# o_orderstatus = 'F', and the best threshold minimizes the weighted
# Gini impurity of the induced left/right partition.  Shape at 100 TB:
# ONE map-side-combined groupBy to per-bucket (n, pos) counts (bounded
# by the bucket alphabet, ~550 rows), then windows/argmin on the tiny
# aggregate -- the corpus is touched exactly once.  Determinism: the
# impurity is one literal float expression of exact ints (IEEE-identical
# on both engines), quantized to int64 BEFORE the argmin, and the argmin
# key packs (q_impurity, bucket) so MIN() is an exact-integer total
# order -- no float tie ambiguity can reach the output.

_STUMP_G = ("(CAST({p} AS DOUBLE) / CAST({n} AS DOUBLE))"
            " * (CAST(({n}) - ({p}) AS DOUBLE) / CAST({n} AS DOUBLE))")


def _stump_wg() -> str:
    gl = _STUMP_G.format(p="posl", n="nl")
    gr = _STUMP_G.format(p="pos - posl", n="n - nl")
    return (f"(CAST(nl AS DOUBLE) / CAST(n AS DOUBLE)) * ({gl})"
            f" + (CAST(n - nl AS DOUBLE) / CAST(n AS DOUBLE)) * ({gr})")


def _stump_sql() -> str:
    return f"""
WITH b AS (
  SELECT CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS bkt,
         COUNT(*) AS nb,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS posb
  FROM orders GROUP BY 1),
c AS (
  SELECT bkt, nb, posb,
         SUM(nb) OVER (ORDER BY bkt
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS nl,
         SUM(posb) OVER (ORDER BY bkt
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS posl,
         SUM(nb) OVER () AS n, SUM(posb) OVER () AS pos
  FROM b),
s AS (
  SELECT bkt, nl, posl, n, pos,
         CAST(FLOOR(({_stump_wg()}) * 1000000000000) AS BIGINT) AS qwg
  FROM c WHERE nl < n),
m AS (SELECT MIN(qwg * 4096 + bkt) AS k FROM s)
SELECT CAST(s.bkt AS BIGINT) AS split_bucket,
       CAST(s.nl AS BIGINT) AS n_left,
       CAST(s.posl AS BIGINT) AS pos_left,
       CAST(s.n - s.nl AS BIGINT) AS n_right,
       CAST(s.pos - s.posl AS BIGINT) AS pos_right,
       CAST(s.qwg AS BIGINT) AS q_impurity
FROM s JOIN m ON s.qwg * 4096 + s.bkt = m.k
"""


def q_decision_stump(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_stump_sql())


# --- graph_modularity: community quality of the co-ordered-parts graph --------
#
# Newman modularity per community over the co-purchase graph (nodes =
# parts, simple undirected edges = distinct same-order part pairs,
# communities = p_brand): q_c = m_c/m - (D_c/2m)^2.  The edge set comes
# from ONE orderkey-keyed self-join (fan-out bounded by lineitems per
# order), degrees/within-edges are exact-int aggregates, and each q_c
# composes the ints in ONE literal float expression (the
# spatial_autocorr rule) -- bit-identical at any aggregation order.

def _modularity_sql() -> str:
    q_lit = ("ROUND(CAST(mc AS DOUBLE) / CAST(m AS DOUBLE)"
             " - (CAST(dc AS DOUBLE) / CAST(2 * m AS DOUBLE))"
             " * (CAST(dc AS DOUBLE) / CAST(2 * m AS DOUBLE)), 6)")
    return f"""
WITH e AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey),
deg AS (
  SELECT pk, COUNT(*) AS d FROM (
    SELECT pa AS pk FROM e UNION ALL SELECT pb AS pk FROM e) t
  GROUP BY pk),
nb AS (
  SELECT deg.pk, deg.d, part.p_brand AS brand
  FROM deg JOIN part ON deg.pk = part.p_partkey),
mtot AS (SELECT COUNT(*) AS m FROM e),
within AS (
  SELECT x.p_brand AS brand, COUNT(*) AS mc
  FROM e JOIN part x ON e.pa = x.p_partkey
         JOIN part y ON e.pb = y.p_partkey
  WHERE x.p_brand = y.p_brand GROUP BY 1),
dsum AS (SELECT brand, SUM(d) AS dc, COUNT(*) AS n_parts FROM nb GROUP BY 1)
SELECT dsum.brand,
       CAST(dsum.n_parts AS BIGINT) AS n_parts,
       CAST(dsum.dc AS BIGINT) AS degree_sum,
       CAST(COALESCE(within.mc, 0) AS BIGINT) AS m_within,
       CAST(mtot.m AS BIGINT) AS m_total,
       CASE WHEN mtot.m > 0 THEN {q_lit.replace('mc', 'COALESCE(within.mc, 0)')}
            ELSE NULL END AS q_c
FROM dsum LEFT JOIN within ON dsum.brand = within.brand
CROSS JOIN mtot
"""


def q_graph_modularity(spark, sf_dir):
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_modularity_sql())


QUERIES.update({
    "url_domain_stats": (q_url_domain_stats, _url_sql()),
    "decision_stump": (q_decision_stump, _stump_sql()),
    "graph_modularity": (q_graph_modularity, _modularity_sql()),
})


# --- stream_static_enrich: batch twin of the stream-static broadcast join -----
#
# streaming.static_enrich_counts joins each micro-batch of events to the
# STATIC broadcast nation dimension (no join state — the C12 surface
# between stateless maps and stream-stream joins) and rolls up hourly
# counts per nation.  This batch twin is the driver-gated oracle row;
# stream ≡ batch is pytest-asserted on the real readStream.  Exact cent
# sums (half-up int64) keep the value hash bit-stable; at 100 TB the
# dim broadcast means zero shuffle on the fact side beyond the window
# rollup's own exchange.

def q_stream_static_enrich(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    n = _t(spark, sf_dir, "nation")
    j = e.join(F.broadcast(n), e["user_id"] % 25 == n["n_nationkey"])
    hour = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        " DIV 3600")
    return (j.groupBy((hour * 3600).alias("window_start_s"), "n_name")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
                 .alias("sum_cents"))
            .select("window_start_s", "n_name", "n", "sum_cents"))


ORACLE_STREAM_STATIC = """
SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) * 3600 AS window_start_s,
       n.n_name, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
GROUP BY 1, 2
"""


# --- ols_two_features: closed-form 2-feature linear regression ----------------
#
# Multiple regression per group (extended price ~ quantity + discount
# per l_returnflag) by the normal equations — the regression family's
# multi-feature depth beyond trend_regression's single slope.  Inputs
# quantize to exact integers (qty, discount in hundredths, price in
# cents); per-row products stay inside int64 (|x·y| ≤ 5e8) and the
# ACCUMULATORS are DECIMAL(38,0) (the money-sum rule — exact at any
# aggregation order and any corpus size); the 2×2 Cramer solve composes
# the moments in ONE literal float expression shared verbatim with the
# oracle, so betas/R² are bit-deterministic.  ONE dialect-shared SQL
# string; the corpus is touched exactly once (map-side combine into ≤4
# groups).

def _ols2_sql() -> str:
    d = "CAST({} AS DOUBLE)".format
    n, s1, s2, sy = d("n"), d("s1"), d("s2"), d("sy")
    a11 = f"({n} * {d('s11')} - {s1} * {s1})"
    a12 = f"({n} * {d('s12')} - {s1} * {s2})"
    a22 = f"({n} * {d('s22')} - {s2} * {s2})"
    b1 = f"({n} * {d('s1y')} - {s1} * {sy})"
    b2 = f"({n} * {d('s2y')} - {s2} * {sy})"
    ayy = f"({n} * {d('syy')} - {sy} * {sy})"
    det = f"({a11} * {a22} - {a12} * {a12})"
    beta1 = f"(({a22} * {b1} - {a12} * {b2}) / {det})"
    beta2 = f"(({a11} * {b2} - {a12} * {b1}) / {det})"
    icept = f"(({sy} - {beta1} * {s1} - {beta2} * {s2}) / {n})"
    r2 = f"(({beta1} * {b1} + {beta2} * {b2}) / {ayy})"
    return f"""
WITH q AS (
  SELECT l_returnflag AS grp,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x1,
         CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS x2,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
  FROM lineitem),
m AS (
  SELECT grp, COUNT(*) AS n,
         SUM(CAST(x1 AS DECIMAL(38,0))) AS s1,
         SUM(CAST(x2 AS DECIMAL(38,0))) AS s2,
         SUM(CAST(y AS DECIMAL(38,0))) AS sy,
         SUM(CAST(x1 * x1 AS DECIMAL(38,0))) AS s11,
         SUM(CAST(x1 * x2 AS DECIMAL(38,0))) AS s12,
         SUM(CAST(x2 * x2 AS DECIMAL(38,0))) AS s22,
         SUM(CAST(x1 * y AS DECIMAL(38,0))) AS s1y,
         SUM(CAST(x2 * y AS DECIMAL(38,0))) AS s2y,
         SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
  FROM q GROUP BY grp)
SELECT grp, CAST(n AS BIGINT) AS n,
       CASE WHEN {det} <> CAST(0 AS DOUBLE)
            THEN ROUND({beta1}, 6) ELSE NULL END AS beta_qty,
       CASE WHEN {det} <> CAST(0 AS DOUBLE)
            THEN ROUND({beta2}, 6) ELSE NULL END AS beta_disc,
       CASE WHEN {det} <> CAST(0 AS DOUBLE)
            THEN ROUND({icept}, 6) ELSE NULL END AS intercept,
       CASE WHEN {det} <> CAST(0 AS DOUBLE) AND {ayy} <> CAST(0 AS DOUBLE)
            THEN ROUND({r2}, 6) ELSE NULL END AS r_squared
FROM m
"""


def q_ols_two_features(spark, sf_dir):
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_ols2_sql())


# --- dedup_incremental: daily-ingest shard dedup against an existing index ----
#
# The incremental form of the dedup pipeline (what a 100 TB corpus runs
# DAILY): a new shard (doc_id % 50 = 0 inside the %10 LSH subset) checks
# its MinHash band signatures against the EXISTING corpus index (the
# rest of the subset) — one (band, band_sig)-keyed LEFT equi-join, never
# a rescan of old-vs-old pairs.  Every new doc gets a verdict row:
# is_dup, the canonical match (MIN old doc_id — the survivor it would
# merge into), and how many of its bands hit the index.

def _inc_bands_spark(spark, sf_dir):
    from .queries_text import q_minhash_signatures
    sig = (q_minhash_signatures(spark, sf_dir)
           .where(F.col("doc_id") % 10 == 0))
    return (sig.withColumn("band", (F.col("p") / 2).cast("int"))
            .groupBy("doc_id", "band")
            .agg(F.concat_ws("_", F.sort_array(F.collect_list(
                F.concat_ws(":", F.col("p").cast("string"),
                            F.col("minhash").cast("string")))))
                 .alias("band_sig")))


def q_dedup_incremental(spark, sf_dir):
    bands = _inc_bands_spark(spark, sf_dir)
    new = bands.where(F.col("doc_id") % 50 == 0)
    old = (bands.where(F.col("doc_id") % 50 != 0)
           .select(F.col("doc_id").alias("old_id"),
                   F.col("band").alias("o_band"),
                   F.col("band_sig").alias("o_sig")))
    hits = new.join(old, (F.col("band") == F.col("o_band"))
                    & (F.col("band_sig") == F.col("o_sig")), "left")
    return (hits.groupBy("doc_id")
            .agg(F.max(F.when(F.col("old_id").isNotNull(), 1)
                       .otherwise(0)).alias("is_dup"),
                 F.min("old_id").alias("matched_old"),
                 F.count_distinct(
                     F.when(F.col("old_id").isNotNull(), F.col("band")))
                 .alias("n_band_hits"))
            .selectExpr("doc_id", "CAST(is_dup AS BIGINT) AS is_dup",
                        "CAST(matched_old AS BIGINT) AS matched_old",
                        "CAST(n_band_hits AS BIGINT) AS n_band_hits"))


def _oracle_dedup_incremental() -> str:
    from .queries_text import ORACLE_MINHASH
    return f"""
WITH sig AS (
  SELECT * FROM ({ORACLE_MINHASH}) s WHERE doc_id % 10 = 0),
bands AS (
  SELECT doc_id, CAST(FLOOR(p / 2.0) AS INT) AS band,
         string_agg(CAST(p AS VARCHAR) || ':' || CAST(minhash AS VARCHAR),
                    '_' ORDER BY CAST(p AS VARCHAR) || ':' ||
                    CAST(minhash AS VARCHAR)) AS band_sig
  FROM sig GROUP BY doc_id, 2),
hits AS (
  SELECT n.doc_id, n.band, o.doc_id AS old_id
  FROM (SELECT * FROM bands WHERE doc_id % 50 = 0) n
  LEFT JOIN (SELECT * FROM bands WHERE doc_id % 50 <> 0) o
    ON n.band = o.band AND n.band_sig = o.band_sig)
SELECT doc_id,
       CAST(MAX(CASE WHEN old_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS is_dup,
       CAST(MIN(old_id) AS BIGINT) AS matched_old,
       CAST(COUNT(DISTINCT CASE WHEN old_id IS NOT NULL THEN band END)
            AS BIGINT) AS n_band_hits
FROM hits GROUP BY doc_id
"""


QUERIES.update({
    "stream_static_enrich": (q_stream_static_enrich, ORACLE_STREAM_STATIC),
    "ols_two_features": (q_ols_two_features, _ols2_sql()),
    "dedup_incremental": (q_dedup_incremental, _oracle_dedup_incremental()),
})


# --- t_closeness: distributional privacy audit (completes the trio) ---------
#
# k_anonymity counts class sizes and l_diversity counts distinct sensitive
# values; t-closeness (Li et al., ICDE 2007) is the third audit in the
# anonymization stack: per QI equivalence class, the DISTANCE between the
# class's sensitive-attribute distribution and the global one.  For a
# categorical sensitive attribute the paper's EMD with unit ground
# distance reduces to total variation:  t(c) = 1/2 * SUM_s |p_c(s)-p(s)|.
# QI = (hour-of-day, level-3 cell) — event_type moves from the QI tuple
# (where k_anonymity has it) to the SENSITIVE slot.
#
# Determinism: the 5-symbol event_type alphabet pivots into FIXED slot
# columns (the BM25 slot rule), so absent symbols contribute their exact
# g_s*n_c term instead of silently vanishing from a sparse (class,symbol)
# join; tvd_num = SUM_s |n_cs*N - g_s*n_c| is exact int64 (products
# <= N^2 ~ 1e12 at sf0.1; beyond ~3e9 rows the cross products move to
# DECIMAL(38,0) — the money-sum rule) and t itself is ONE literal float
# division shared verbatim with the oracle.  Class rows are bounded by
# the QI lattice (24 hours x 64 cells), never corpus size; the global
# distribution is a 1-row broadcast cross join.

TCLOSE_LVL = 3
_TC_TYPES = ("click", "error", "purchase", "signup", "view")


def q_t_closeness(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, TCLOSE_LVL)
    base = (_t(spark, sf_dir, "events")
            .selectExpr("event_type",
                        "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ))"
                        " / 3600000000) AS BIGINT) % 24 AS hod",
                        f"{ix} AS cx", f"{iy} AS cy"))
    cls = base.groupBy("hod", "cx", "cy").agg(
        F.expr("COUNT(*)").alias("n_c"),
        *[F.expr(f"SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)")
          .alias(f"n_{t}") for t in _TC_TYPES])
    glob = base.groupBy().agg(
        F.expr("COUNT(*)").alias("nn"),
        *[F.expr(f"SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)")
          .alias(f"g_{t}") for t in _TC_TYPES])
    num = " + ".join(f"ABS(n_{t} * nn - g_{t} * n_c)" for t in _TC_TYPES)
    return (cls.crossJoin(F.broadcast(glob))
            .selectExpr("CAST(hod AS BIGINT) AS hod",
                        "CAST(cx AS BIGINT) AS cx",
                        "CAST(cy AS BIGINT) AS cy",
                        "CAST(n_c AS BIGINT) AS n_c",
                        f"CAST({num} AS BIGINT) AS tvd_num",
                        f"CAST({num} AS DOUBLE) / "
                        "CAST(2 * n_c * nn AS DOUBLE) AS tvd"))


def _oracle_tclose() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, TCLOSE_LVL)
    slot_c = ", ".join(
        f"SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS n_{t}"
        for t in _TC_TYPES)
    slot_g = ", ".join(
        f"SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS g_{t}"
        for t in _TC_TYPES)
    num = " + ".join(f"ABS(n_{t} * nn - g_{t} * n_c)" for t in _TC_TYPES)
    return f"""
WITH base AS MATERIALIZED (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) % 24 AS hod,
         {ix} AS cx, {iy} AS cy
  FROM events),
cls AS (
  SELECT hod, cx, cy, COUNT(*) AS n_c, {slot_c}
  FROM base GROUP BY 1, 2, 3),
gl AS (SELECT COUNT(*) AS nn, {slot_g} FROM base)
SELECT CAST(hod AS BIGINT) AS hod, CAST(cx AS BIGINT) AS cx,
       CAST(cy AS BIGINT) AS cy, CAST(n_c AS BIGINT) AS n_c,
       CAST({num} AS BIGINT) AS tvd_num,
       CAST({num} AS DOUBLE) / CAST(2 * n_c * nn AS DOUBLE) AS tvd
FROM cls, gl
"""


QUERIES.update({
    "t_closeness": (q_t_closeness, _oracle_tclose()),
})


# --- halfplane_clip_area: vector-overlay clip via clamped Green's theorem ---------
#
# The missing overlay family: area of polygon ∩ half-plane (the building
# block of polygon∩box and polygon∩polygon boolean area — a box clip is
# four successive half-plane clips).  The scale insight is that the clip
# AREA never needs the clipped geometry: by Green's theorem with the
# integration coordinate clamped to the half-plane, the area is an
# EDGE-LOCAL sum — each directed edge contributes a closed-form term that
# depends only on its own endpoints and the line.  The whole operator is
# therefore one map-side-combinable SUM over the edge table: no vertex
# lists, no ragged buffers, no Python — pure codegen, and it runs
# unchanged over a 10^12-edge decoded layer with a single shuffle on
# poly_id.  (Vertex-level Sutherland–Hodgman — the textbook algorithm —
# materializes per-ring vertex lists and can't map-side combine; pytest
# uses it as the independent cross-check.)
#
# Exactness: fence vertices quantize to the centi-degree lattice
# (ix = FLOOR(x·100)); the clip line is the diagonal x + y = c with c an
# integer, so in rotated coordinates u = ix − iy, v = ix + iy the clip is
# v ≤ c and every edge–line crossing lands ON the integer lattice
# (axis-aligned source edges give |Δu| = |Δv| in uv space, so the
# interpolated crossing u is u1 ± (c − v1) exactly).  Every per-edge
# contribution and both area sums are therefore exact int64 at any
# aggregation order; the single float division is the final clip
# fraction.  Ring orientation (reference convention: outer CW, holes
# CCW — geom.py assemble_rings) makes holes subtract and extra parts add
# automatically, with one global sign flip at the end.
#
# c itself is data-derived (the mid-diagonal of each polygon's v-range),
# computed by one narrow pre-aggregate over the same edge table.

HP_Q = 100  # centi-degree lattice


def _hp_edges_df(spark: SparkSession):
    e = fixtures.fence_edges(64)
    rows = [(int(r[0]), float(r[1]), float(r[2]), float(r[3]), float(r[4]))
            for r in e]
    return spark.createDataFrame(
        rows, "poly_id bigint, x1 double, y1 double, x2 double, y2 double")


# CAST AS DOUBLE first: DuckDB parses the VALUES literals as DECIMAL and
# a DECIMAL(17,14)-by-100.0 multiply overflows its DECIMAL(18) cap.
def _hp_q(col: str) -> str:
    return (f"CAST(FLOOR(CAST({col} AS DOUBLE) * {float(HP_Q)!r}) "
            "AS BIGINT)")


_HP_UV = (
    f"{_hp_q('x1')} - {_hp_q('y1')} AS u1",
    f"{_hp_q('x1')} + {_hp_q('y1')} AS v1",
    f"{_hp_q('x2')} - {_hp_q('y2')} AS u2",
    f"{_hp_q('x2')} + {_hp_q('y2')} AS v2",
)

# Crossing u: exact for this input class (|Δu| = |Δv|), computed via an
# exact double quotient (|numerator| < 2^53) so Spark and DuckDB CAST
# identically; NULLIF keeps the non-crossing rows NULL instead of
# erroring, and the CASE never reads uc on those rows.
_HP_UC = ("(u1 + CAST(CAST((c - v1) * (u2 - u1) AS DOUBLE) "
          "/ CAST(NULLIF(v2 - v1, 0) AS DOUBLE) AS BIGINT))")

# Doubled-doubled signed contribution to ∮ u dv with v clamped to ≤ c:
# S = Σ contrib = 4 · (signed xy area of the clipped region).
_HP_CONTRIB = f"""CASE
  WHEN v1 <= c AND v2 <= c THEN (u1 + u2) * (v2 - v1)
  WHEN v1 > c AND v2 > c THEN CAST(0 AS BIGINT)
  WHEN v1 <= c THEN (u1 + {_HP_UC}) * (c - v1)
  ELSE ({_HP_UC} + u2) * (v2 - c)
END"""

_HP_TOTAL = "(u1 + u2) * (v2 - v1)"

_HP_OUT = (
    "CAST(poly_id AS BIGINT) AS poly_id",
    "CAST(c AS BIGINT) AS c_diag",
    "CAST(n_edges AS BIGINT) AS n_edges",
    # outer−holes positive under the reference CW-outer convention
    "CAST(CAST(0 - s_total AS DOUBLE) / 2.0 AS BIGINT) AS area2_total",
    "CAST(CAST(0 - s_clip AS DOUBLE) / 2.0 AS BIGINT) AS area2_clip",
    "ROUND(CAST(0 - s_clip AS DOUBLE) / CAST(0 - s_total AS DOUBLE), 6)"
    " AS clip_frac",
)


def q_halfplane_clip_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _hp_edges_df(spark).selectExpr("poly_id", *_HP_UV)
    c = e.groupBy("poly_id").agg(F.expr(
        "CAST(FLOOR((MIN(LEAST(v1, v2)) + MAX(GREATEST(v1, v2))) / 2.0) "
        "AS BIGINT)").alias("c"))
    j = e.join(F.broadcast(c), "poly_id")
    agg = (j.groupBy("poly_id", "c")
           .agg(F.count(F.lit(1)).alias("n_edges"),
                F.expr(f"SUM({_HP_TOTAL})").alias("s_total"),
                F.expr(f"SUM({_HP_CONTRIB})").alias("s_clip")))
    return agg.selectExpr(*_HP_OUT)


def _oracle_halfplane() -> str:
    from .queries_spatial import _fence_edges_values_sql
    uv = ",\n         ".join(_HP_UV)
    return f"""
WITH e AS (
  SELECT poly_id, {uv}
  FROM {_fence_edges_values_sql(64)} fe),
cc AS (
  SELECT poly_id,
         CAST(FLOOR((MIN(LEAST(v1, v2)) + MAX(GREATEST(v1, v2))) / 2.0)
              AS BIGINT) AS c
  FROM e GROUP BY 1),
agg AS (
  SELECT e.poly_id, c, COUNT(*) AS n_edges,
         SUM({_HP_TOTAL}) AS s_total,
         SUM({_HP_CONTRIB}) AS s_clip
  FROM e JOIN cc ON e.poly_id = cc.poly_id
  GROUP BY 1, 2)
SELECT {", ".join(_HP_OUT)}
FROM agg
"""


QUERIES.update({
    "halfplane_clip_area": (q_halfplane_clip_area, _oracle_halfplane()),
})


# --- map_match_roads: snap GPS points to the nearest road segment ----------------
#
# The map-matching primitive (GPS trace → road network): each point snaps
# to the nearest road SEGMENT within radius R, by exact point-to-segment
# distance with endpoint clamping — not point-to-point and not bbox — the
# geometry kernel every routing/telemetry pipeline runs first.
#
# Sibling ops (deliberate, complementary scale shapes): map_match_segments
# (queries_mining) and snap_nearest_edge unroll the WHOLE network into one
# LEAST() of codegen terms — optimal for a network small enough to embed
# (≤ a few dozen segments), but a literal unroll cannot scale past that.
# THIS op is the join form: candidates come from a cell grid, so the same
# plan serves a 10M-segment network (the road-cell side moves from a
# broadcast literal to a broadcast/shuffle join input) — and it adds
# radius semantics (unmatched points are first-class, reported as
# road_id = -1) that the global-argmin forms cannot express.  Candidate
# (point, road) pairs come from a cell grid whose width equals R: roads
# scatter to their bbox-midpoint cell ±2 (the bbox of a ≤2000-unit
# segment provably fits in mid±1, and the extra ring absorbs the
# radius), and points join on their SINGLE cell key — whenever d ≤ R the
# nearest point P' lies in a mid±1 cell and the point's cell is within 1
# of P''s per axis, hence in mid±2 — so the equi-join is a PROVEN
# superset of the matched set, never all-pairs, the corpus is never
# exploded, and each qualifying (point, road) pair yields EXACTLY ONE
# candidate row (the point's cell).  Measured at 100M points: the
# alternative (3×3 ring on the point side vs mid±1 road cells) generates
# ~3× the candidate work through multi-cell duplicate matches plus a 9×
# corpus explode — 0.55M pts/s vs this form (BENCH/SESSION5.json).  At
# 10^12 points this is one broadcast of 5000 road cells + one
# map-side-combinable per-point argmin; the only shuffle carries ≤1 row
# per matched point.
#
# Exactness: the world is an integer lattice (40000×20000), so apx/apy/
# dot/len2 and num = |AP|²·len2 − 2·dotc·dot + dotc² (≤8e14) are exact
# int64; matched is the integer test num ≤ R²·len2; the quantized
# distance d2q = FLOOR(num·4/len2) cannot flip across engines because
# num·4 ≤ 3.2e15 < 2^52 is float-exact and the quotient's fractional
# part is ≥ 1/len2 ≥ 1.25e-7 away from 1, vs a rounding error ≤ 2.2e-8
# (the pytest uses integer // to verify the claim).  Argmin with a
# deterministic road tiebreak packs into ONE int64: d2q·256 + rid.

MM_ROADS = 200
MM_R = 1000                 # snap radius == cell width (ring proof)
MM_WORLD_X, MM_WORLD_Y = 40000, 20000
MM_Q = 4                    # d2 quantizer: num*4 < 2^52, float-exact


def _mm_road_exprs() -> tuple[str, str, str, str]:
    """x1, y1, dx, dy as shared SQL exprs of rid (endpoints in-world,
    |dx| ∈ [200, 2000] so len2 ≥ 40000 > 0)."""
    from .hashing import mix_sql
    m = lambda s: f"({mix_sql(f'rid * 9 + {s}')})"  # noqa: E731
    x1 = f"(2000 + {m(1)} % 36000)"
    y1 = f"(2000 + {m(2)} % 16000)"
    dx = f"((({m(3)} % 2) * 2 - 1) * (200 + {m(4)} % 1801))"
    dy = f"({m(5)} % 4001 - 2000)"
    return x1, y1, dx, dy


def _mm_event_exprs() -> tuple[str, str]:
    from .hashing import mix_sql
    ex = f"(({mix_sql('event_id * 11 + 3')}) % {MM_WORLD_X})"
    ey = f"(({mix_sql('event_id * 11 + 4')}) % {MM_WORLD_Y})"
    return ex, ey


_MM_DOT = "(apx * dx + apy * dy)"
_MM_NUM = ("((apx * apx + apy * apy) * len2 "
           "- 2 * dotc * dot + dotc * dotc)")
_MM_PACK = (f"(CAST(FLOOR(num * {MM_Q}.0 / len2) AS BIGINT) * 256 + rid)")
_MM_OUT = (
    "CAST(road_id AS BIGINT) AS road_id",
    "CAST(n_events AS BIGINT) AS n_events",
    "CAST(sum_d2q AS BIGINT) AS sum_d2q",
    f"ROUND(CAST(sum_d2q AS DOUBLE) / ({MM_Q}.0 * n_events), 6) "
    "AS mean_d2",
)


def q_map_match_roads(spark, sf_dir):
    x1, y1, dx, dy = _mm_road_exprs()
    roads = (spark.range(MM_ROADS).selectExpr("id AS rid")
             .selectExpr("rid", f"{x1} AS x1", f"{y1} AS y1",
                         f"{dx} AS dx", f"{dy} AS dy")
             .selectExpr("rid", "x1", "y1", "dx", "dy",
                         "dx * dx + dy * dy AS len2",
                         "CAST(FLOOR((2 * x1 + dx) / 2000.0) AS BIGINT)"
                         " AS cmx",
                         "CAST(FLOOR((2 * y1 + dy) / 2000.0) AS BIGINT)"
                         " AS cmy"))
    rc = roads.selectExpr("rid", "x1", "y1", "dx", "dy", "len2", "cmy",
                          "explode(sequence(cmx - 2, cmx + 2)) AS jx")
    rc = rc.selectExpr("rid", "x1", "y1", "dx", "dy", "len2", "jx",
                       "explode(sequence(cmy - 2, cmy + 2)) AS jy")

    ex, ey = _mm_event_exprs()
    e = (_t(spark, sf_dir, "events")
         .selectExpr("event_id", f"{ex} AS ex", f"{ey} AS ey"))
    er = e.selectExpr("event_id", "ex", "ey",
                      f"CAST(FLOOR(ex / {MM_R}.0) AS BIGINT) AS jx",
                      f"CAST(FLOOR(ey / {MM_R}.0) AS BIGINT) AS jy")

    cand = (er.join(F.broadcast(rc), ["jx", "jy"])
            .selectExpr("event_id", "rid", "len2",
                        "ex - x1 AS apx", "ey - y1 AS apy", "dx", "dy"))
    scored = (cand.selectExpr("event_id", "rid", "len2", "apx", "apy",
                              f"{_MM_DOT} AS dot")
              .selectExpr("event_id", "rid", "len2", "apx", "apy", "dot",
                          "LEAST(GREATEST(dot, 0), len2) AS dotc")
              .selectExpr("event_id", "rid", "len2",
                          f"{_MM_NUM} AS num"))
    best = (scored.where(f"num <= {MM_R * MM_R} * len2")
            .groupBy("event_id")
            .agg(F.expr(f"MIN({_MM_PACK})").alias("best")))
    per_road = (best.selectExpr("best % 256 AS road_id",
                                "CAST(FLOOR(best / 256.0) AS BIGINT)"
                                " AS d2q")
                .groupBy("road_id")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum("d2q").alias("sum_d2q"))
                # ≤1 row per road; both consumers below read this tiny
                # materialization so the candidate join executes ONCE
                .localCheckpoint())
    n_tot = e.groupBy().agg(F.count(F.lit(1)).alias("nt"))
    n_mat = per_road.groupBy().agg(F.sum("n_events").alias("nm"))
    unmatched = (n_tot.crossJoin(n_mat)
                 .selectExpr("CAST(-1 AS BIGINT) AS road_id",
                             "nt - nm AS n_events",
                             "CAST(0 AS BIGINT) AS sum_d2q"))
    both = per_road.unionByName(unmatched)
    return both.selectExpr(*_MM_OUT)


def _oracle_map_match() -> str:
    x1, y1, dx, dy = _mm_road_exprs()
    ex, ey = _mm_event_exprs()
    return f"""
WITH roads AS (
  SELECT i AS rid, {x1} AS x1, {y1} AS y1, {dx} AS dx, {dy} AS dy
  FROM generate_series(0, {MM_ROADS - 1}) AS g(i)),
r2 AS (
  SELECT rid, x1, y1, dx, dy, dx * dx + dy * dy AS len2,
         CAST(FLOOR((2 * x1 + dx) / 2000.0) AS BIGINT) AS cmx,
         CAST(FLOOR((2 * y1 + dy) / 2000.0) AS BIGINT) AS cmy
  FROM roads),
rc AS (
  SELECT r2.*, cmx + ox.d AS jx, cmy + oy.d AS jy
  FROM r2, (SELECT UNNEST([-2, -1, 0, 1, 2]) AS d) ox,
           (SELECT UNNEST([-2, -1, 0, 1, 2]) AS d) oy),
e AS (
  SELECT event_id, {ex} AS ex, {ey} AS ey FROM events),
er AS (
  SELECT e.*,
         CAST(FLOOR(ex / {MM_R}.0) AS BIGINT) AS jx,
         CAST(FLOOR(ey / {MM_R}.0) AS BIGINT) AS jy
  FROM e),
cand AS (
  SELECT er.event_id, rc.rid, rc.len2,
         er.ex - rc.x1 AS apx, er.ey - rc.y1 AS apy, rc.dx, rc.dy
  FROM er JOIN rc ON er.jx = rc.jx AND er.jy = rc.jy),
s1 AS (SELECT event_id, rid, len2, apx, apy, {_MM_DOT} AS dot FROM cand),
s2 AS (SELECT event_id, rid, len2, apx, apy, dot,
              LEAST(GREATEST(dot, 0), len2) AS dotc FROM s1),
s3 AS (SELECT event_id, rid, len2, {_MM_NUM} AS num FROM s2),
best AS (
  SELECT event_id, MIN({_MM_PACK}) AS best
  FROM s3 WHERE num <= {MM_R * MM_R} * len2 GROUP BY event_id),
per_road AS (
  SELECT best % 256 AS road_id, COUNT(*) AS n_events,
         SUM(CAST(FLOOR(best / 256.0) AS BIGINT)) AS sum_d2q
  FROM best GROUP BY 1),
unm AS (
  SELECT CAST(-1 AS BIGINT) AS road_id,
         (SELECT COUNT(*) FROM e) - (SELECT COUNT(*) FROM best)
           AS n_events,
         CAST(0 AS BIGINT) AS sum_d2q),
unioned AS (SELECT * FROM per_road UNION ALL SELECT * FROM unm)
SELECT {", ".join(_MM_OUT)} FROM unioned
"""


QUERIES.update({
    "map_match_roads": (q_map_match_roads, _oracle_map_match()),
})


# --- idw_interpolation: inverse-distance-weighted surface estimation -------------
#
# The classic GIS interpolation tool (ArcGIS "IDW"): estimate a field
# value at P probe points as the 1/(1+d²)-weighted mean of sample values
# within radius R, on the same integer GPS lattice as map_match_roads.
# Sibling op (deliberate contrast): idw_interpolate (queries_mining) is
# the RASTER form — gap-fill of empty grid cells from their 8 neighbors,
# where the only distances are d² ∈ {1,2}.  THIS op is the scattered-data
# form: arbitrary (off-grid) probe locations, true inverse-distance
# weights over a continuous d² spectrum, and a radius search — the shape
# ArcGIS/QGIS "IDW to point" runs, which the raster fill cannot express.
# Scale shape: probes explode a 3×3 ring of radius-width cells and
# BROADCAST (≤576 rows); events join on their single cell key — so an
# event pairs with at most one ring cell per probe, the join is a proven
# superset of the ≤R disc, and the ONLY exchange is the tiny per-probe
# partial-aggregate rollup.  Zero corpus shuffles at any input size.
#
# Exactness: d² is exact int64 on the lattice; the weight uses EXACT
# integer division wq = (WQ − WQ % (1+d²)) DIV (1+d²) — written as the
# subtract-remainder form because a float FLOOR(WQ/(1+d²)) CAN flip here
# (quotient up to 2^30 has ulp 2.4e-7 > the 1/(1+d²) ≥ 2.2e-7 fraction
# gap); the subtract form divides exactly, so the float division is of
# two ints with an integer quotient and is correctly rounded.  Weighted
# sums accumulate in DECIMAL(38,0) (the money-sum rule — int64 overflows
# past ~1e5 samples/probe); the estimate is one shared literal.

IDW_PROBES = 64
IDW_R = 1500                  # radius == cell width (ring proof)
IDW_WQ = 1 << 30


def _idw_probe_exprs() -> tuple[str, str]:
    from .hashing import mix_sql
    px = f"(({mix_sql('pid * 13 + 1')}) % {MM_WORLD_X})"
    py = f"(({mix_sql('pid * 13 + 2')}) % {MM_WORLD_Y})"
    return px, py


_IDW_D2 = "((ex - px) * (ex - px) + (ey - py) * (ey - py))"
_IDW_WQ_EXPR = (f"CAST(({IDW_WQ} - {IDW_WQ} % (1 + d2)) / (1 + d2) "
                "AS BIGINT)")
_IDW_OUT = (
    "CAST(pid AS BIGINT) AS probe_id",
    "px", "py",
    "CAST(COALESCE(n_samples, 0) AS BIGINT) AS n_samples",
    "ROUND(CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE) / 100.0, 6) "
    "AS idw_value",
)


def q_idw_interpolation(spark, sf_dir):
    px, py = _idw_probe_exprs()
    probes = (spark.range(IDW_PROBES).selectExpr("id AS pid")
              .selectExpr("pid", f"{px} AS px", f"{py} AS py"))
    pr = probes.selectExpr(
        "pid", "px", "py",
        f"CAST(FLOOR(py / {IDW_R}.0) AS BIGINT) AS cpy",
        f"explode(sequence(CAST(FLOOR(px / {IDW_R}.0) AS BIGINT) - 1, "
        f"CAST(FLOOR(px / {IDW_R}.0) AS BIGINT) + 1)) AS jx")
    pr = pr.selectExpr("pid", "px", "py", "jx",
                       "explode(sequence(cpy - 1, cpy + 1)) AS jy")

    ex, ey = _mm_event_exprs()
    e = (_t(spark, sf_dir, "events")
         .selectExpr(f"{ex} AS ex", f"{ey} AS ey",
                     "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc")
         .selectExpr("ex", "ey", "vc",
                     f"CAST(FLOOR(ex / {IDW_R}.0) AS BIGINT) AS jx",
                     f"CAST(FLOOR(ey / {IDW_R}.0) AS BIGINT) AS jy"))
    agg = (e.join(F.broadcast(pr), ["jx", "jy"])
           .selectExpr("pid", "vc", f"{_IDW_D2} AS d2")
           .where(f"d2 <= {IDW_R * IDW_R}")
           .selectExpr("pid", "vc", f"{_IDW_WQ_EXPR} AS wq")
           .groupBy("pid")
           .agg(F.count(F.lit(1)).alias("n_samples"),
                F.expr("SUM(CAST(wq AS DECIMAL(38, 0)) * vc)").alias("swv"),
                F.expr("SUM(CAST(wq AS DECIMAL(38, 0)))").alias("sw")))
    return (probes.join(agg, "pid", "left")
            .selectExpr(*_IDW_OUT))


def _oracle_idw() -> str:
    px, py = _idw_probe_exprs()
    ex, ey = _mm_event_exprs()
    return f"""
WITH probes AS (
  SELECT i AS pid, {px} AS px, {py} AS py
  FROM generate_series(0, {IDW_PROBES - 1}) AS g(i)),
pr AS (
  SELECT probes.*,
         CAST(FLOOR(px / {IDW_R}.0) AS BIGINT) + ox.d AS jx,
         CAST(FLOOR(py / {IDW_R}.0) AS BIGINT) + oy.d AS jy
  FROM probes, (SELECT UNNEST([-1, 0, 1]) AS d) ox,
               (SELECT UNNEST([-1, 0, 1]) AS d) oy),
e AS (
  SELECT {ex} AS ex, {ey} AS ey,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc,
         CAST(FLOOR(({ex}) / {IDW_R}.0) AS BIGINT) AS jx,
         CAST(FLOOR(({ey}) / {IDW_R}.0) AS BIGINT) AS jy
  FROM events),
cand AS (
  SELECT pid, vc, {_IDW_D2} AS d2
  FROM e JOIN pr ON e.jx = pr.jx AND e.jy = pr.jy
  WHERE {_IDW_D2} <= {IDW_R * IDW_R}),
agg AS (
  SELECT pid, COUNT(*) AS n_samples,
         SUM(CAST({_IDW_WQ_EXPR} AS DECIMAL(38, 0)) * vc) AS swv,
         SUM(CAST({_IDW_WQ_EXPR} AS DECIMAL(38, 0))) AS sw
  FROM cand GROUP BY pid)
SELECT {", ".join(_IDW_OUT)}
FROM probes LEFT JOIN agg USING (pid)
"""


QUERIES.update({
    "idw_interpolation": (q_idw_interpolation, _oracle_idw()),
})


# --- video_motion_vectors: block-matching motion estimation over real AVI ----------
#
# The video-compression / optical-flow primitive the scene-cut row does
# not cover: estimate per-block motion between consecutive frames by
# exhaustive ±2 SAD search (the H.26x/MPEG motion-search inner loop).
# Each task synthesizes an uncompressed BI_RGB AVI whose content PLANTS
# a global translation (vx, vy) ∈ [-2, 2]²: pixel (f,y,x,c) =
# ((i·11 + (x+100−vx·f)·29 + (y+100−vy·f)·17 + c·13) % 256 + noise) % 256
# with per-frame noise (i + f·31 + y·7 + x·3 + c) % 3 — so the true
# offset (−vx, −vy) has SAD ≈ noise level while any other offset pays the
# ~85/px content gradient; all offsets stay in-frame for the 6 interior
# 8×8 blocks.  Decodes through the REAL RIFF/AVI walk; argmin over the
# 25 offsets packs SAD·32 + offset-index (deterministic tiebreak);
# n_correct pins recovery of the planted vector, a position-weighted
# checksum pins WHICH offset every block chose.

N_MV_AVI = 12
MV_W, MV_H = 32, 16
MV_BLOCKS = [(2 + (b % 3) * 8, 2 + (b // 3) * 4) for b in range(6)]


def _mv_params(i: int) -> tuple:
    return (5 + i % 3, i % 5 - 2, (i * 3 + 1) % 5 - 2)  # nf, vx, vy


def q_video_motion_vectors(spark, sf_dir):
    import numpy as np
    from pyspark.sql import types as T
    from . import riff

    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("n_correct", T.LongType()),
        T.StructField("sad_total", T.LongType()),
        T.StructField("vec_checksum", T.LongType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].astype(int):
                nf, vx, vy = _mv_params(i)
                f, y, x, c = np.ogrid[0:nf, 0:MV_H, 0:MV_W, 0:3]
                content = ((i * 11 + (x + 100 - vx * f) * 29
                            + (y + 100 - vy * f) * 17 + c * 13) % 256)
                noise = (i + f * 31 + y * 7 + x * 3 + c) % 3
                px = ((content + noise) % 256).astype(np.uint8)
                dec, _ = riff.avi_decode(riff.avi_encode(px, fps=10))
                d = dec.astype(np.int64)
                nb = nc = st = vc = 0
                for fi in range(1, nf):
                    for b, (bx, by) in enumerate(MV_BLOCKS):
                        cur = d[fi, by:by + 8, bx:bx + 8, :]
                        best = None
                        for dy in (-2, -1, 0, 1, 2):
                            for dx in (-2, -1, 0, 1, 2):
                                prev = d[fi - 1, by + dy:by + dy + 8,
                                         bx + dx:bx + dx + 8, :]
                                sad = int(np.abs(cur - prev).sum())
                                pack = (sad * 32
                                        + (dy + 2) * 5 + (dx + 2))
                                best = pack if best is None \
                                    else min(best, pack)
                        off = best % 32
                        bdx, bdy = off % 5 - 2, off // 5 - 2
                        nb += 1
                        nc += (bdx, bdy) == (-vx, -vy)
                        st += best // 32
                        vc += best * ((fi - 1) * 6 + b + 1)
                rows.append((f"avi{i:03d}", nb, nc, st, vc))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (spark.range(0, N_MV_AVI, numPartitions=4)
            .mapInPandas(work, schema))


def _oracle_motion_vectors() -> str:
    def pix(f_expr: str, x_expr: str, y_expr: str) -> str:
        base = (f"(i * 11 + (({x_expr}) + 100 - vx * ({f_expr})) * 29 "
                f"+ (({y_expr}) + 100 - vy * ({f_expr})) * 17 + c * 13)"
                f" % 256")
        noise = (f"(i + ({f_expr}) * 31 + ({y_expr}) * 7 "
                 f"+ ({x_expr}) * 3 + c) % 3")
        return f"(({base} + {noise}) % 256)"

    cur = pix("f", "bx + qx", "by + qy")
    prev = pix("f - 1", "bx + qx + dx", "by + qy + dy")
    return f"""
WITH ids AS (
  SELECT i, 5 + i % 3 AS nf, i % 5 - 2 AS vx, (i * 3 + 1) % 5 - 2 AS vy
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_MV_AVI - 1})) AS i) t),
blocks AS (
  SELECT b, 2 + (b % 3) * 8 AS bx, 2 + CAST(FLOOR(b / 3.0) AS BIGINT) * 4
           AS by
  FROM (SELECT UNNEST(GENERATE_SERIES(0, 5)) AS b) t),
sads AS MATERIALIZED (
  SELECT i, nf, vx, vy, f, b, dx, dy,
         SUM(ABS({cur} - {prev})) AS sad
  FROM ids, blocks,
       GENERATE_SERIES(1, 7) gf(f),
       GENERATE_SERIES(-2, 2) gdx(dx),
       GENERATE_SERIES(-2, 2) gdy(dy),
       GENERATE_SERIES(0, 7) gqx(qx),
       GENERATE_SERIES(0, 7) gqy(qy),
       GENERATE_SERIES(0, 2) gc(c)
  WHERE f < nf
  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
best AS (
  SELECT i, nf, vx, vy, f, b,
         MIN(sad * 32 + (dy + 2) * 5 + (dx + 2)) AS best
  FROM sads GROUP BY 1, 2, 3, 4, 5, 6),
dec AS (
  SELECT i, f, b, best,
         (best % 32) % 5 - 2 AS bdx,
         CAST(FLOOR((best % 32) / 5.0) AS BIGINT) - 2 AS bdy,
         vx, vy
  FROM best)
SELECT printf('avi%03d', i) AS media_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN bdx = -vx AND bdy = -vy THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST(SUM(CAST(FLOOR(best / 32.0) AS BIGINT)) AS BIGINT)
         AS sad_total,
       CAST(SUM(best * ((f - 1) * 6 + b + 1)) AS BIGINT) AS vec_checksum
FROM dec GROUP BY i
"""


QUERIES.update({
    "video_motion_vectors": (q_video_motion_vectors,
                             _oracle_motion_vectors()),
})


# --- areal_interpolation: dasymetric reallocation fence -> grid ---------------
#
# The GIS areal-interpolation / dasymetric-mapping primitive (recast
# census zones onto a raster): each nation fence's event count is
# reallocated to level-4 grid cells proportional to the EXACT overlap
# area.  Everything is integer milli-degrees — level 4 divides both
# axes exactly (360000/16 = 22500, 170000/16 = 10625), fences clamp to
# the grid domain (events cannot exist outside it), overlap = product
# of clamped 1-D intersections via GREATEST/LEAST, and the weight is
# (overlap * 2^20) DIV fence_area (product <= 1.5e14, int64-safe).
# Corpus work: ONE broadcast fence join + per-fence count; the
# fence x cell candidate table is python-enumerated literals (<= 4
# cells per fence by construction: fence span <= 12 deg < one cell).

AREAL_Q = 1 << 20
_AREAL_CW, _AREAL_CH = 22500, 10625      # level-4 cell size, mdeg


def _areal_fences():
    import numpy as np
    ks = np.arange(25, dtype=np.int64)
    cx, cy, hw = fixtures.nation_fences_np(ks)
    rows = []
    for k in range(25):
        x1 = max(int(np.floor((cx[k] - hw[k]) * 1000)), -180000)
        x2 = min(int(np.floor((cx[k] + hw[k]) * 1000)), 180000)
        y1 = max(int(np.floor((cy[k] - hw[k]) * 1000)), -85000)
        y2 = min(int(np.floor((cy[k] + hw[k]) * 1000)), 85000)
        for ix in range((x1 + 180000) // _AREAL_CW,
                        (x2 - 1 + 180000) // _AREAL_CW + 1):
            for iy in range((y1 + 85000) // _AREAL_CH,
                            (y2 - 1 + 85000) // _AREAL_CH + 1):
                rows.append((k, x1, x2, y1, y2, ix, iy))
    return rows


def _areal_sql(div: str) -> str:
    vals = ", ".join(f"({k}, {x1}, {x2}, {y1}, {y2}, {ix}, {iy})"
                     for k, x1, x2, y1, y2, ix, iy in _areal_fences())
    lon_md = (f"CAST(FLOOR(({fixtures.EVENT_LON_SQL}) * "
              f"CAST(1000 AS DOUBLE)) AS BIGINT)")
    lat_md = (f"CAST(FLOOR(({fixtures.EVENT_LAT_SQL}) * "
              f"CAST(1000 AS DOUBLE)) AS BIGINT)")
    return f"""
WITH cand AS (
  SELECT * FROM (VALUES {vals}) v(nk, x1, x2, y1, y2, ix, iy)),
fences AS (
  SELECT nk, MIN(x1) AS x1, MIN(x2) AS x2, MIN(y1) AS y1, MIN(y2) AS y2
  FROM cand GROUP BY nk),
counts AS (
  SELECT f.nk, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT {lon_md} AS ex, {lat_md} AS ey FROM events) e
  JOIN fences f
    ON e.ex >= f.x1 AND e.ex < f.x2 AND e.ey >= f.y1 AND e.ey < f.y2
  GROUP BY f.nk),
ovl AS (
  SELECT nk, ix, iy,
         GREATEST(CAST(0 AS BIGINT),
                  LEAST(x2, (ix + 1) * {_AREAL_CW} - 180000)
                  - GREATEST(x1, ix * {_AREAL_CW} - 180000))
         * GREATEST(CAST(0 AS BIGINT),
                    LEAST(y2, (iy + 1) * {_AREAL_CH} - 85000)
                    - GREATEST(y1, iy * {_AREAL_CH} - 85000)) AS ov,
         (x2 - x1) * (y2 - y1) AS farea
  FROM cand)
SELECT o.nk AS n_nationkey, CAST(o.ix AS INT) AS ix,
       CAST(o.iy AS INT) AS iy, CAST(o.ov AS BIGINT) AS overlap_md2,
       CAST((o.ov * {AREAL_Q}) {div} o.farea AS BIGINT) AS weight_q,
       CAST(COALESCE(c.cnt, 0) AS BIGINT) AS fence_events,
       CAST((COALESCE(c.cnt, 0) * ((o.ov * {AREAL_Q}) {div} o.farea))
            {div} {AREAL_Q} AS BIGINT) AS allocated
FROM ovl o LEFT JOIN counts c ON c.nk = o.nk
WHERE o.ov > 0
"""


def q_areal_interpolation(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return spark.sql(_areal_sql("DIV"))


ORACLE_AREAL = _areal_sql("//")


QUERIES.update({
    "areal_interpolation": (q_areal_interpolation, ORACLE_AREAL),
})


# --- video_keyframe_select: per-chunk keyframe extraction ---------------------
#
# The video-summarization / thumbnail primitive downstream of
# video_scene_cuts (same planted-scene AVI fixture, REAL RIFF decode):
# frames group into fixed 3-frame chunks and each chunk's KEYFRAME is
# the one with the maximum frame-to-frame SAD (the most content-bearing
# frame — scene-boundary frames win their chunks by construction),
# picked by an injective packed argmax (sad * 16 + (15 - f), nf <= 8
# and sad <= npx*255 < 2^22, so the pack never collides and ties break
# to the EARLIEST frame).  All-integer outputs.

KEYF_CHUNK = 3


def q_video_keyframes(spark, sf_dir):
    import numpy as np
    from pyspark.sql import types as T
    from . import riff

    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("chunk", T.LongType()),
        T.StructField("n_in_chunk", T.LongType()),
        T.StructField("key_frame", T.LongType()),
        T.StructField("key_sad", T.LongType()),
        T.StructField("chunk_sad", T.LongType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].astype(int):
                nf, w, h, seg = _scene_params(i)
                f, y, x, c = np.ogrid[0:nf, 0:h, 0:w, 0:3]
                px = ((i * 7 + (f // seg) * 997 + f * 3 + y * 17
                       + x * 29 + c * 13) % 256).astype(np.uint8)
                dec, _ = riff.avi_decode(riff.avi_encode(px, fps=10))
                d = dec.astype(np.int64)
                sad = np.abs(d[1:] - d[:-1]).sum(axis=(1, 2, 3))
                fidx = np.arange(1, nf, dtype=np.int64)
                for ch in range(int((nf - 1 + KEYF_CHUNK - 1)
                                    // KEYF_CHUNK)):
                    m = (fidx - 1) // KEYF_CHUNK == ch
                    packed = (sad[m] * 16 + (15 - fidx[m])).max()
                    rows.append((f"avi{i:03d}", ch, int(m.sum()),
                                 int(15 - packed % 16),
                                 int(packed // 16),
                                 int(sad[m].sum())))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (spark.range(0, N_SCENE_AVI, numPartitions=4)
            .mapInPandas(work, schema))


def _oracle_keyframes() -> str:
    px = ("((i * 7 + CAST(FLOOR(f / CAST(seg AS DOUBLE)) AS BIGINT) * 997 "
          "+ f * 3 + y * 17 + x * 29 + c * 13) % 256)")
    px_prev = ("((i * 7 + CAST(FLOOR((f - 1) / CAST(seg AS DOUBLE)) "
               "AS BIGINT) * 997 + (f - 1) * 3 + y * 17 + x * 29 "
               "+ c * 13) % 256)")
    return f"""
WITH ids AS (
  SELECT i, 6 + i % 3 AS nf, 7 + (i % 4) * 3 AS w, 6 + (i % 2) * 5 AS h,
         2 + i % 2 AS seg
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_SCENE_AVI - 1})) AS i) t),
diffs AS MATERIALIZED (
  SELECT i, f, (f - 1) // {KEYF_CHUNK} AS chunk,
         SUM(ABS({px} - {px_prev})) AS sad
  FROM ids,
       GENERATE_SERIES(1, 7) gf(f),
       GENERATE_SERIES(0, 11) gy(y),
       GENERATE_SERIES(0, 16) gx(x),
       GENERATE_SERIES(0, 2) gc(c)
  WHERE f < nf AND y < h AND x < w
  GROUP BY 1, 2, 3)
SELECT printf('avi%03d', i) AS media_id, CAST(chunk AS BIGINT) AS chunk,
       CAST(COUNT(*) AS BIGINT) AS n_in_chunk,
       CAST(15 - MAX(sad * 16 + (15 - f)) % 16 AS BIGINT) AS key_frame,
       CAST(MAX(sad * 16 + (15 - f)) // 16 AS BIGINT) AS key_sad,
       CAST(SUM(sad) AS BIGINT) AS chunk_sad
FROM diffs GROUP BY 1, 2
"""


QUERIES.update({
    "video_keyframes": (q_video_keyframes, _oracle_keyframes()),
})


# --- group_sequential_test: O'Brien-Fleming interim monitoring ----------------
#
# The sequential-experimentation primitive next to the fixed-horizon
# ab_test_ztest: five interim looks at 20%..100% of the experiment's
# time span, each look re-computing the two-proportion z over the users
# ACTIVE by that look, compared to the O'Brien-Fleming spending
# boundary c*sqrt(K/k) (python-folded literals) — the design that lets
# experimenters peek early without inflating alpha.  Per-user look
# state is a 10-slot pivot (np/nt per time bucket, one map-side
# combinable pass); every look's z composes exact integer sums in one
# literal (the ab_test discipline, NULL on degenerate pools); look
# boundaries are integer-microsecond arithmetic on the span.

GST_K = 5
GST_C = 2.0401   # two-sided alpha=0.05, K=5 O'Brien-Fleming constant
GST_BOUNDS = [round(GST_C * (GST_K / k) ** 0.5, 6)
              for k in range(1, GST_K + 1)]


def _gst_sql(epoch_us: str, div: str) -> str:
    from .hashing import mix_sql
    v = f"({mix_sql('user_id * 7 + 5')}) % 2"
    slots = []
    for b in range(GST_K):
        slots += [
            f"SUM(CASE WHEN b = {b} THEN p ELSE 0 END) AS np{b}",
            f"SUM(CASE WHEN b = {b} THEN 1 ELSE 0 END) AS nt{b}",
        ]
    gcols = []
    for k in range(1, GST_K + 1):
        npk = " + ".join(f"np{b}" for b in range(k))
        ntk = " + ".join(f"nt{b}" for b in range(k))
        act = f"({ntk}) > 0"
        cnv = f"({npk}) * 5 > ({ntk})"
        for vv, tag in ((0, "a"), (1, "b")):
            gcols += [
                f"SUM(CASE WHEN {act} AND v = {vv} THEN 1 ELSE 0 END)"
                f" AS n{tag}{k}",
                f"SUM(CASE WHEN {act} AND v = {vv} AND {cnv} "
                f"THEN 1 ELSE 0 END) AS c{tag}{k}",
            ]
    pick = {c: "CASE k " + " ".join(
        f"WHEN {k} THEN {c}{k}" for k in range(1, GST_K + 1)) + " END"
        for c in ("na", "nb", "ca", "cb")}
    bnd = ("CASE k " + " ".join(
        f"WHEN {i + 1} THEN CAST({b!r} AS DOUBLE)"
        for i, b in enumerate(GST_BOUNDS)) + " END")
    z = ("(CASE WHEN na = 0 OR nb = 0 OR ca + cb = 0 OR ca + cb = na + nb "
         "THEN CAST(NULL AS DOUBLE) ELSE "
         "ROUND((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb) / "
         "SQRT((CAST(ca + cb AS DOUBLE) / (na + nb)) * "
         "(CAST(1 AS DOUBLE) - CAST(ca + cb AS DOUBLE) / (na + nb)) * "
         "(CAST(1 AS DOUBLE) / na + CAST(1 AS DOUBLE) / nb)), 6) + 0.0 "
         "END)")
    looks = ", ".join(f"({k})" for k in range(1, GST_K + 1))
    return f"""
WITH ev AS (
  SELECT user_id, {epoch_us} AS us,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
  FROM events),
span AS (SELECT MIN(us) AS tmin, MAX(us) AS tmax FROM ev),
bkt AS (
  SELECT user_id, p,
         LEAST({GST_K - 1},
               ((us - tmin) * {GST_K}) {div} (tmax - tmin + 1)) AS b
  FROM ev, span),
pu AS (
  SELECT user_id, {', '.join(slots)}
  FROM bkt GROUP BY user_id),
pv AS (
  SELECT pu.*, {v} AS v FROM pu),
g AS (SELECT {', '.join(gcols)} FROM pv),
looks AS (SELECT * FROM (VALUES {looks}) lk(k)),
picked AS (
  SELECT k, {pick['na']} AS na, {pick['nb']} AS nb,
         {pick['ca']} AS ca, {pick['cb']} AS cb
  FROM g, looks)
SELECT CAST(k AS INT) AS look,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(ca AS BIGINT) AS conv_a, CAST(cb AS BIGINT) AS conv_b,
       {z} AS z_score, {bnd} AS obf_bound,
       CAST(CASE WHEN {z} IS NOT NULL AND ABS({z}) > {bnd}
            THEN 1 ELSE 0 END AS INT) AS crossed
FROM picked
"""


def q_group_sequential(spark, sf_dir):
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_gst_sql(
        "unix_micros(CAST(ts AS TIMESTAMP_LTZ))", "DIV"))


ORACLE_GST = _gst_sql("epoch_us(ts)", "//")


QUERIES.update({
    "group_sequential_test": (q_group_sequential, ORACLE_GST),
})


# --- rayleigh_uniformity: circular statistics on time-of-day ------------------
#
# The circular-statistics family (chronobiology, beaconing detection,
# activity rhythm): events map to angles on the 24-hour circle and the
# Rayleigh test asks whether they cluster (z = n * Rbar^2 large) or
# spread uniformly.  Float determinism: each cos/sin term quantizes to
# 1e-6 integers BEFORE the variable-cardinality sum (the image_entropy
# rule), so the resultant components are exact int64 and Rbar / z /
# the circular mean compose them in single literal expressions
# (squares in DOUBLE — sc^2 passes int64 at bench scale).

RAY_Q = 1_000_000


def _ray_sql(epoch_us: str) -> str:
    theta = (f"(({epoch_us}) % 86400000000) "
             f"* (CAST({2 * 3.141592653589793 / 86400000000.0!r}"
             " AS DOUBLE))")
    return f"""
WITH ang AS (
  SELECT event_type,
         CAST(FLOOR(COS({theta}) * {RAY_Q} + 0.5) AS BIGINT) AS cq,
         CAST(FLOOR(SIN({theta}) * {RAY_Q} + 0.5) AS BIGINT) AS sq
  FROM events),
m AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(cq) AS BIGINT) AS sc, CAST(SUM(sq) AS BIGINT) AS ss
  FROM ang GROUP BY 1)
SELECT event_type, CAST(n AS BIGINT) AS n, sc, ss,
       ROUND(SQRT(CAST(sc AS DOUBLE) * sc + CAST(ss AS DOUBLE) * ss)
             / (CAST(n AS DOUBLE) * {RAY_Q}.0), 6) AS rbar,
       ROUND((CAST(sc AS DOUBLE) * sc + CAST(ss AS DOUBLE) * ss)
             / (CAST(n AS DOUBLE) * {RAY_Q}.0 * {RAY_Q}.0), 6)
         AS rayleigh_z,
       ROUND(DEGREES(ATAN2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))), 6)
         AS mean_angle_deg
FROM m
"""


def q_rayleigh_uniformity(spark, sf_dir):
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ray_sql("unix_micros(CAST(ts AS TIMESTAMP_LTZ))"))


ORACLE_RAYLEIGH = _ray_sql("epoch_us(ts)")


QUERIES.update({
    "rayleigh_uniformity": (q_rayleigh_uniformity, ORACLE_RAYLEIGH),
})


# --- rolling_regression: windowed trend slope ---------------------------------
#
# The moving-window sibling of trend_regression (drift monitors, chart
# overlays): per event type, the OLS slope of hourly cents over the
# trailing 24 OBSERVED hours — frame sums (Sx, Sy, Sxx, Sxy) are exact
# int64 window aggregates over ROWS 23 PRECEDING, the slope is one
# literal float, and only full frames emit (ROW_NUMBER >= 24).  The
# x-variance of 24 DISTINCT hour indices is always positive, so no
# degenerate-denominator branch is needed (unlike the gapped-window
# variants).

ROLL_W = 24

_ROLL_SQL = """
WITH hourly AS (
  SELECT event_type AS g,
         CAST(FLOOR({epoch_us} / 3600000000.0) AS BIGINT) AS h,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events),
series AS (SELECT g, h, SUM(vc) AS y FROM hourly GROUP BY 1, 2),
base AS (SELECT g, MIN(h) AS h0 FROM series GROUP BY 1),
xy AS (
  SELECT series.g, h - h0 AS x, CAST(y AS BIGINT) AS y
  FROM series JOIN base ON series.g = base.g),
frames AS (
  SELECT g, x,
         ROW_NUMBER()        OVER w AS rn,
         SUM(x)              OVER f AS sx,
         SUM(y)              OVER f AS sy,
         SUM(x * x)          OVER f AS sxx,
         SUM(x * y)          OVER f AS sxy
  FROM xy
  WINDOW w AS (PARTITION BY g ORDER BY x),
         f AS (PARTITION BY g ORDER BY x
               ROWS BETWEEN {prev} PRECEDING AND CURRENT ROW))
SELECT g AS event_type, CAST(x AS BIGINT) AS hour_x,
       CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
       ROUND((CAST({w} AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
             (CAST({w} AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
         AS slope_cents_per_hour
FROM frames WHERE rn >= {w}
"""


def q_rolling_regression(spark, sf_dir):
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ROLL_SQL.format(
        epoch_us="unix_micros(CAST(ts AS TIMESTAMP_LTZ))",
        prev=ROLL_W - 1, w=ROLL_W))


ORACLE_ROLL = _ROLL_SQL.format(epoch_us="epoch_us(ts)",
                               prev=ROLL_W - 1, w=ROLL_W)


QUERIES.update({
    "rolling_regression": (q_rolling_regression, ORACLE_ROLL),
})


# --- type_profile_similarity: cosine between behavioral profiles --------------
#
# The profile-similarity matrix (segment comparison, anomaly triage —
# "which event types co-move across the day?"): each type's hour-of-day
# activity histogram (24 integer counts) compared pairwise by cosine.
# Exact moments: the dot products and squared norms are int64 sums over
# the 24-bin join (counts are integers by construction), cosine is ONE
# literal float division, ROUND(...,6).  The 24-bin histogram pass is
# the only corpus-scale work; the 5x5 pair join runs on 120 rows.

def _tps_sql(epoch_us: str) -> str:
    return f"""
WITH hist AS (
  SELECT event_type AS t,
         CAST(FLOOR((({epoch_us}) % 86400000000) / 3600000000.0)
              AS BIGINT) AS hod,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2),
norms AS (
  SELECT t, CAST(SUM(c * c) AS BIGINT) AS n2 FROM hist GROUP BY 1),
pairs AS (
  -- dot over SHARED bins only is exact (a missing bin is a zero
  -- count), but the norms must cover each type's FULL histogram
  SELECT a.t AS type_a, b.t AS type_b,
         CAST(SUM(a.c * b.c) AS BIGINT) AS dot,
         CAST(COUNT(*) AS BIGINT) AS n_bins
  FROM hist a JOIN hist b ON a.hod = b.hod AND a.t < b.t
  GROUP BY 1, 2)
SELECT type_a, type_b, n_bins, dot,
       ROUND(CAST(dot AS DOUBLE)
             / SQRT(CAST(na.n2 AS DOUBLE) * nb.n2), 6) AS cosine
FROM pairs
JOIN norms na ON na.t = pairs.type_a
JOIN norms nb ON nb.t = pairs.type_b
"""


def q_type_profile_similarity(spark, sf_dir):
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_tps_sql("unix_micros(CAST(ts AS TIMESTAMP_LTZ))"))


ORACLE_TPS = _tps_sql("epoch_us(ts)")


QUERIES.update({
    "type_profile_similarity": (q_type_profile_similarity, ORACLE_TPS),
})


# --- l_moments: robust distribution shape via L-moments -----------------------
#
# Hosking's L-moments (the hydrology/actuarial standard for robust
# distribution shape — linear in the data, so far less outlier-driven
# than conventional skewness/kurtosis): per event type, the
# probability-weighted moment numerators S_r = sum (i-1)(i-2)..(i-r) x_(i)
# over the type-sorted cents are EXACT (int64 for S0, DECIMAL(38,0)
# for the rank-weighted sums — (i^3 x) overflows int64 at bench
# scale), and l1/l2, L-CV, L-skewness, L-kurtosis compose them in
# literal float expressions.  The Spark side needs NO rank window at all
# (VERDICT r3 item 4, taken past the outlier_audit pattern): x is
# quantized cents, so its cardinality is value-range-bounded (~100k),
# not row-bounded — and within a run of TIED x values every rank
# permutation yields the same Σ f(i)·x.  So: ONE map-side-combinable
# groupBy (g, x) collapses the corpus to |g|·|distinct x| rows, a window
# over that TINY aggregate yields each run's exclusive rank offset
# A = rows-before, and the falling-factorial rank sums over the run
# i = A+1..A+c are closed forms (consecutive-integer products, each
# divisible by 2/3/4, so the decimal divisions below are exact):
#   Σ(i-1)           = [f2(A+c) − f2(A)] DIV 2,  f2(z) = z(z−1)
#   Σ(i-1)(i-2)      = [f3(A+c) − f3(A)] / 3,    f3(z) = z(z−1)(z−2)
#   Σ(i-1)(i-2)(i-3) = [f4(A+c) − f4(A)] / 4,    f4(z) = z·..·(z−3)
# No 100M-row sort, no big exchange beyond the partial-agg shuffle —
# measured >10x over the serial rank window at 100M rows and
# bit-identical to the oracle's global window (BENCH/ROUND4.json).


def _lmom_m_sql(ranked: str) -> str:
    """The PWM-numerator aggregate over a (g, x, i) relation — shared
    verbatim between the oracle's global-window ranks and the Spark
    side's two-phase ranks so the DECIMAL(38,0) sum types stay equal."""
    return f"""
  SELECT g, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS s0,
         SUM(CAST(i - 1 AS DECIMAL(38, 0)) * x) AS s1,
         SUM(CAST((i - 1) * (i - 2) AS DECIMAL(38, 0)) * x) AS s2,
         SUM(CAST(i - 1 AS DECIMAL(38, 0)) * (i - 2) * (i - 3) * x)
           AS s3
  FROM {ranked} GROUP BY 1"""


def _lmom_select(src: str) -> str:
    den = {r: " * ".join(f"(CAST(n AS DOUBLE) - {j})"
                         for j in range(r + 1))
           for r in range(4)}
    b = {r: f"(CAST(s{r} AS DOUBLE) / ({den[r]}))" for r in range(4)}
    l1 = b[0]
    l2 = f"(2.0 * {b[1]} - {b[0]})"
    l3 = f"(6.0 * {b[2]} - 6.0 * {b[1]} + {b[0]})"
    l4 = f"(20.0 * {b[3]} - 30.0 * {b[2]} + 12.0 * {b[1]} - {b[0]})"
    return f"""SELECT g AS event_type, CAST(n AS BIGINT) AS n, s0,
       ROUND({l1}, 6) AS l1_cents,
       ROUND({l2}, 6) AS l2_cents,
       ROUND({l2} / {l1}, 6) AS l_cv,
       ROUND({l3} / {l2}, 6) AS l_skew,
       ROUND({l4} / {l2}, 6) AS l_kurt
FROM {src}"""


def _lmom_sql() -> str:
    return f"""
WITH vals AS (
  SELECT event_type AS g, event_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x
  FROM events),
ranked AS (
  SELECT g, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY x, event_id)
              AS BIGINT) AS i
  FROM vals),
m AS ({_lmom_m_sql('ranked')})
{_lmom_select('m')}
"""


def q_l_moments(spark, sf_dir):
    h = (_t(spark, sf_dir, "events")
         .selectExpr("event_type AS g",
                     "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x")
         .groupBy("g", "x").agg(F.count(F.lit(1)).alias("c")))
    h.createOrReplaceTempView("lmom_h")
    return spark.sql(f"""
WITH runs AS (
  SELECT g, x, c,
         COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a
  FROM lmom_h),
ff AS (
  SELECT g, x, c, a, a + c AS z FROM runs),
rank_sums AS (
  SELECT g, x, c,
         (z * (z - 1) - a * (a - 1)) DIV 2 AS t1,
         CAST((CAST(z AS DECIMAL(38, 0)) * (z - 1) * (z - 2)
               - CAST(a AS DECIMAL(38, 0)) * (a - 1) * (a - 2)) / 3
              AS DECIMAL(38, 0)) AS t2,
         CAST((CAST(z AS DECIMAL(38, 0)) * (z - 1) * (z - 2) * (z - 3)
               - CAST(a AS DECIMAL(38, 0)) * (a - 1) * (a - 2) * (a - 3))
              / 4 AS DECIMAL(38, 0)) AS t3
  FROM ff),
m AS (
  SELECT g, SUM(c) AS n,
         CAST(SUM(c * x) AS BIGINT) AS s0,
         CAST(SUM(CAST(t1 AS DECIMAL(38, 0)) * x) AS DECIMAL(38, 0))
           AS s1,
         CAST(SUM(t2 * x) AS DECIMAL(38, 0)) AS s2,
         CAST(SUM(t3 * x) AS DECIMAL(38, 0)) AS s3
  FROM rank_sums GROUP BY g)
{_lmom_select('m')}
""")


QUERIES.update({
    "l_moments": (q_l_moments, _lmom_sql()),
})


# --- gumbel_fit: extreme-value analysis of daily peaks ------------------------
#
# The classic block-maxima workflow (flood frequency, peak-load
# capacity planning): per event type, daily maxima of the hourly cents
# totals form the extreme-value sample, the Gumbel distribution fits by
# L-MOMENTS (sigma = l2/ln2, mu = l1 - gamma_E*sigma — the method that
# pairs with l_moments and needs no iteration), and the T-year return
# levels x_T = mu - sigma*ln(-ln(1-1/T)) read off directly.  The
# corpus folds to (type, day, hour) sums once; the rank window runs
# over the tiny per-type daily-max sample; all constants are
# python-folded literals and every float composes exact integer sums.

import math as _gmath

GUMBEL_LN2 = _gmath.log(2.0)
GUMBEL_EULER = 0.5772156649015329
GUMBEL_Y10 = -_gmath.log(-_gmath.log(1.0 - 1.0 / 10.0))
GUMBEL_Y100 = -_gmath.log(-_gmath.log(1.0 - 1.0 / 100.0))


def _gumbel_sql(epoch_us: str) -> str:
    l1 = "(CAST(s0 AS DOUBLE) / n)"
    l2 = ("(2.0 * CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)) "
          f"- {l1})")
    sig = f"({l2} / CAST({GUMBEL_LN2!r} AS DOUBLE))"
    mu = f"({l1} - CAST({GUMBEL_EULER!r} AS DOUBLE) * {sig})"
    return f"""
WITH hourly AS (
  SELECT event_type AS g,
         CAST(FLOOR({epoch_us} / 86400000000.0) AS BIGINT) AS d,
         CAST(FLOOR({epoch_us} / 3600000000.0) AS BIGINT) AS h,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events),
hsum AS (SELECT g, d, h, SUM(vc) AS y FROM hourly GROUP BY 1, 2, 3),
dmax AS (SELECT g, d, CAST(MAX(y) AS BIGINT) AS x FROM hsum
         GROUP BY 1, 2),
ranked AS (
  SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x, d) AS i
  FROM dmax),
m AS (
  SELECT g, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s0,
         CAST(SUM((i - 1) * x) AS BIGINT) AS s1
  FROM ranked GROUP BY 1)
SELECT g AS event_type, CAST(n AS BIGINT) AS n_days, s0, s1,
       ROUND({mu}, 6) AS mu_cents,
       ROUND({sig}, 6) AS sigma_cents,
       ROUND({mu} + {sig} * CAST({GUMBEL_Y10!r} AS DOUBLE), 6)
         AS return_10,
       ROUND({mu} + {sig} * CAST({GUMBEL_Y100!r} AS DOUBLE), 6)
         AS return_100
FROM m
"""


def q_gumbel_fit(spark, sf_dir):
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_gumbel_sql("unix_micros(CAST(ts AS TIMESTAMP_LTZ))"))


ORACLE_GUMBEL = _gumbel_sql("epoch_us(ts)")


QUERIES.update({
    "gumbel_fit": (q_gumbel_fit, ORACLE_GUMBEL),
})


# --- pot_exceedances: peaks-over-threshold GPD tail fit -----------------------
#
# The other half of extreme-value practice (gumbel_fit = block maxima;
# this = POT): per event type, hourly totals exceeding the EXACT
# 90th-percentile threshold (rank (9n) DIV 10 over the per-type hourly
# table — the percentile never comes from an engine builtin) form the
# excess sample, and the Generalized Pareto fits by method-of-moments
# (xi = (1 - m^2/s^2)/2, beta = m*(1 + m^2/s^2)/2) — every moment an
# exact int64/DECIMAL sum, each parameter one literal float.

def _pot_sql(epoch_us: str) -> str:
    m1 = "(CAST(se AS DOUBLE) / ne)"
    s2 = ("((CAST(ne AS DOUBLE) * see - CAST(se AS DOUBLE) * se) "
          "/ (CAST(ne AS DOUBLE) * ne))")
    r2 = f"({m1} * {m1} / {s2})"
    return f"""
WITH hourly AS (
  SELECT event_type AS g,
         CAST(FLOOR({epoch_us} / 3600000000.0) AS BIGINT) AS h,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events),
hsum AS (SELECT g, h, CAST(SUM(vc) AS BIGINT) AS y
         FROM hourly GROUP BY 1, 2),
ranked AS (
  SELECT g, h, y, ROW_NUMBER() OVER (PARTITION BY g ORDER BY y, h)
           AS i, COUNT(*) OVER (PARTITION BY g) AS n
  FROM hsum),
thr AS (
  SELECT g, y AS u, n FROM ranked WHERE i = (9 * n) {{div}} 10),
exc AS (
  SELECT ranked.g, ranked.y - thr.u AS e, thr.u, thr.n
  FROM ranked JOIN thr ON ranked.g = thr.g
  WHERE ranked.y > thr.u),
m AS (
  SELECT g, MIN(u) AS u, MIN(n) AS n_hours,
         COUNT(*) AS ne, CAST(SUM(e) AS BIGINT) AS se,
         SUM(CAST(e AS DECIMAL(38, 0)) * e) AS see
  FROM exc GROUP BY 1)
SELECT g AS event_type, CAST(n_hours AS BIGINT) AS n_hours,
       CAST(u AS BIGINT) AS threshold_cents,
       CAST(ne AS BIGINT) AS n_exceed, se,
       ROUND({m1}, 6) AS mean_excess,
       ROUND((1.0 - {r2}) / 2.0, 6) AS gpd_xi,
       ROUND({m1} * (1.0 + {r2}) / 2.0, 6) AS gpd_beta
FROM m
"""


def q_pot_exceedances(spark, sf_dir):
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        _pot_sql("unix_micros(CAST(ts AS TIMESTAMP_LTZ))")
        .format(div="DIV"))


ORACLE_POT = _pot_sql("epoch_us(ts)").format(div="//")


QUERIES.update({
    "pot_exceedances": (q_pot_exceedances, ORACLE_POT),
})


N_RS = 20


def q_audio_resample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3:2 linear-interpolation audio resampling (16 kHz -> 10.667 kHz
    decimation, the sample-rate-normalization step of an audio curation
    pipeline) kept EXACT: output sample j sits at input position 3j/2,
    so even j copies an input sample and odd j is the midpoint of two --
    storing DOUBLED values (r2 = 2*s[k] or s[k] + s[k+1]) keeps every
    resampled amplitude an exact int64 at any aggregation order.  Each
    task synthesizes a PCM stream from the shared integer formula,
    round-trips it through the REAL RIFF container walk (riff.wav_encode
    -> wav_decode -- the gate fails if the container path corrupts any
    sample), then resamples in one vectorized gather.  The checksum
    weights by output position, so a dropped/reordered sample flips it."""
    import numpy as np
    from . import riff

    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("n_out", T.LongType()),
        T.StructField("sum_abs_r2", T.LongType()),
        T.StructField("pos_checksum", T.LongType()),
    ])

    def work(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].astype(int):
                n = 100 + (i * 53) % 211
                k = np.arange(n, dtype=np.int64)
                s = ((i * 48271 + k * 16807) % 65536 - 32768).astype(np.int16)
                wav, rate = riff.wav_decode(riff.wav_encode(s, 16000))
                got = np.round(wav[:, 0].astype(np.float64)
                               * 32768.0).astype(np.int64)
                assert rate == 16000 and len(got) == n
                j = np.arange((2 * n) // 3 + 2, dtype=np.int64)
                t_num = 3 * j
                keep = np.where(t_num % 2 == 0, t_num <= 2 * n - 2,
                                t_num <= 2 * n - 3)
                j = j[keep]; t_num = t_num[keep]
                kk = t_num // 2
                r2 = np.where(t_num % 2 == 0, 2 * got[kk],
                              got[kk] + got[np.minimum(kk + 1, n - 1)])
                rows.append((f"rs{i:03d}", len(j),
                             int(np.abs(r2).sum()),
                             int((r2 * (j + 1)).sum())))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return (spark.range(0, N_RS, numPartitions=4)
            .mapInPandas(work, schema))


ORACLE_RESAMPLE = f"""
WITH ids AS (SELECT UNNEST(GENERATE_SERIES(0, {N_RS - 1})) AS i),
lens AS (SELECT i, 100 + (i * 53) % 211 AS n FROM ids),
out AS (
  SELECT i, n, j, 3 * j AS t_num
  FROM lens, GENERATE_SERIES(0, 300) g(j)
  WHERE CASE WHEN (3 * j) % 2 = 0 THEN 3 * j <= 2 * n - 2
             ELSE 3 * j <= 2 * n - 3 END),
r AS (
  SELECT i, j,
         CASE WHEN t_num % 2 = 0
              THEN 2 * (((i * 48271 + (t_num // 2) * 16807) % 65536) - 32768)
              ELSE (((i * 48271 + (t_num // 2) * 16807) % 65536) - 32768)
                 + (((i * 48271 + (t_num // 2 + 1) * 16807) % 65536) - 32768)
         END AS r2
  FROM out)
SELECT printf('rs%03d', i) AS media_id,
       COUNT(*) AS n_out,
       CAST(SUM(ABS(r2)) AS BIGINT) AS sum_abs_r2,
       CAST(SUM(r2 * (j + 1)) AS BIGINT) AS pos_checksum
FROM r GROUP BY i
"""


QUERIES.update({
    "audio_resample_stats": (q_audio_resample_stats, ORACLE_RESAMPLE),
})
