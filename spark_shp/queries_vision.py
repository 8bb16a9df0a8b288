"""Vision / geometry / robustness wave (round-3 continuation session 4):

image CV    — integral-image box filtering (SAT 4-tap vs brute-force
              window oracle), 3x3 median denoise (np.sort stack vs
              QUANTILE_DISC oracle), aHash/dHash perceptual-hash family
              over REAL decoded bytes (block-sum grid, integer mean
              compare), block-SSIM codec QA, quantized Hough lines
geometry    — fixed-round Douglas-Peucker trajectory simplification
              (3 unrolled split rounds, pure relational, exact
              DECIMAL(38,0) cr^2 distance test)
stats       — Mann-Whitney U with doubled midranks + tie correction,
              hourly-series ACF at lags 1..3 from exact integer moments
graph       — fixed-point integer HITS hubs/authorities (bipartite
              customer->supplier, floor-scaled normalization)
(the t-closeness privacy audit lives in queries_insights next to
k_anonymity/l_diversity)

All oracle-gated exact (DuckDB twins); none is in the query registry
(spark_shp.registry holds only the paper's spatial path).  Reference parity: upstream
shapefile-js is geometry ingest (SURVEY.md §2.A [RECONSTRUCTED]); these
extend the §6 analytics/curation families.

Determinism rules (FIXTURES.md): exact integer distributed aggregates;
floats only in ONE literal expression shared verbatim with the oracle,
under ROUND(...,6); ranks always carry a total-order tiebreak.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import cells, fixtures
from .hashing import mix_sql

_ = (np, pd)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


VISION_N = 24          # images per vision query (same scale as dither)

# Shared SQL fragments for the oracle pixel replay (same formula the
# fixture encoder uses; qb quantizes to floor(v/4)*4+2, png is lossless).


def _pix_sql(key: str) -> str:
    px = mix_sql(key)
    return (f"CASE WHEN fmt = 'qb' THEN CAST(FLOOR((({px}) % 256) / 4.0) "
            f"AS BIGINT) * 4 + 2 ELSE ({px}) % 256 END")


def _imgs_cte(n: int) -> str:
    m = fixtures.images_meta_sql("i")
    return (f"SELECT i, {m['w']} AS w, {m['h']} AS h, {m['fmt']} AS fmt "
            f"FROM (SELECT UNNEST(GENERATE_SERIES(0, {n - 1})) AS i) t")


def _with_i(df: DataFrame) -> DataFrame:
    return df.selectExpr(
        "*",
        "CAST(substr(image_id, 4) AS BIGINT) AS i",
    ).selectExpr(
        "*",
        "CASE (i % 3) WHEN 0 THEN 'raw' WHEN 1 THEN 'png' ELSE 'qb' END"
        " AS fmt2")


# --- image_boxfilter_stats: integral-image box sums -----------------------------
#
# Engine: one O(npx) SAT per decode stack, 4 taps per anchor.  Oracle:
# 81 brute-force taps per anchor.  Agreement proves the SAT construction
# (a transposed cumsum, off-by-one inset, or channel interleave bug all
# shift the mass/checksum).

BOX_R, BOX_STRIDE = 4, 8


def q_image_boxfilter(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.boxsum_checksums(img, r=BOX_R,
                                            stride=BOX_STRIDE))
    return (d.groupBy("fmt2")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_anchors").alias("n_anchors"),
                 F.sum("mass").alias("mass"),
                 F.expr("SUM(checksum * (i + 13))").alias("checksum"))
            .selectExpr("fmt2 AS fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_anchors AS BIGINT) AS n_anchors",
                        "CAST(mass AS BIGINT) AS mass",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_boxfilter() -> str:
    v = _pix_sql("i * 1000003 + (ay.y + dy.dy) * 4096 "
                 "+ (ax.x + dx.dx) * 4 + cc.c")
    r, s = BOX_R, BOX_STRIDE
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
taps AS (
  SELECT i, fmt, (ay.y * w + ax.x) * 3 + cc.c + 1 AS pos, {v} AS v
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES({r}, h - {r + 1}, {s})) AS y) ay,
  LATERAL (SELECT UNNEST(GENERATE_SERIES({r}, w - {r + 1}, {s})) AS x) ax,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(-{r}, {r})) AS dy) dy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(-{r}, {r})) AS dx) dx),
boxes AS (
  SELECT i, fmt, pos, SUM(v) AS box FROM taps GROUP BY 1, 2, 3),
per AS (
  SELECT i, fmt, COUNT(*) AS n_anchors, SUM(box) AS mass,
         SUM(box * pos) AS checksum
  FROM boxes GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_anchors) AS BIGINT) AS n_anchors,
       CAST(SUM(mass) AS BIGINT) AS mass,
       CAST(SUM(checksum * (i + 13)) AS BIGINT) AS checksum
FROM per GROUP BY 1
"""


# --- image_median_denoise: 3x3 median filter ------------------------------------


def q_image_median(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.median_checksums(img))
    return (d.groupBy("fmt2")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_interior").alias("n_interior"),
                 F.sum("n_changed").alias("n_changed"),
                 F.sum("sum_absdiff").alias("sum_absdiff"),
                 F.expr("SUM(checksum * (i + 13))").alias("checksum"))
            .selectExpr("fmt2 AS fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_interior AS BIGINT) AS n_interior",
                        "CAST(n_changed AS BIGINT) AS n_changed",
                        "CAST(sum_absdiff AS BIGINT) AS sum_absdiff",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_median() -> str:
    v = _pix_sql("i * 1000003 + (ay.y + dy.dy) * 4096 "
                 "+ (ax.x + dx.dx) * 4 + 1")
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
taps AS (
  SELECT i, fmt, ay.y AS y, ax.x AS x, w,
         dy.dy AS dy, dx.dx AS dx, {v} AS v
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(1, h - 2)) AS y) ay,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(1, w - 2)) AS x) ax,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(-1, 1)) AS dy) dy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(-1, 1)) AS dx) dx),
med AS (
  SELECT i, fmt, y, x, w,
         QUANTILE_DISC(v, 0.5) AS med,
         MAX(CASE WHEN dy = 0 AND dx = 0 THEN v END) AS ctr
  FROM taps GROUP BY 1, 2, 3, 4, 5),
per AS (
  SELECT i, fmt, COUNT(*) AS n_interior,
         SUM(CASE WHEN med <> ctr THEN 1 ELSE 0 END) AS n_changed,
         SUM(ABS(med - ctr)) AS sum_absdiff,
         SUM(med * (y * w + x + 1)) AS checksum
  FROM med GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_interior) AS BIGINT) AS n_interior,
       CAST(SUM(n_changed) AS BIGINT) AS n_changed,
       CAST(SUM(sum_absdiff) AS BIGINT) AS sum_absdiff,
       CAST(SUM(checksum * (i + 13)) AS BIGINT) AS checksum
FROM per GROUP BY 1
"""


# --- image_hash_family: aHash / dHash cascade -----------------------------------


def q_image_hash_family(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.hash_family_checksums(img))
    return (d.groupBy("fmt2")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("a_pop").alias("a_pop"),
                 F.sum("d_pop").alias("d_pop"),
                 F.sum("hamming").alias("hamming"),
                 F.expr("SUM(a_chk * (i + 7))").alias("a_chk"),
                 F.expr("SUM(d_chk * (i + 11))").alias("d_chk"))
            .selectExpr("fmt2 AS fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(a_pop AS BIGINT) AS a_pop",
                        "CAST(d_pop AS BIGINT) AS d_pop",
                        "CAST(hamming AS BIGINT) AS hamming",
                        "CAST(a_chk AS BIGINT) AS a_chk",
                        "CAST(d_chk AS BIGINT) AS d_chk"))


def _oracle_hash_family() -> str:
    v = _pix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + 1")
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
blocks AS (
  SELECT i, fmt,
         CAST(FLOOR(yy.y / (h / 8)) AS BIGINT) AS by,
         CAST(FLOOR(xx.x / (w / 8)) AS BIGINT) AS bx,
         SUM({v}) AS s
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) xx
  GROUP BY 1, 2, 3, 4),
tot AS (SELECT i, SUM(s) AS tot FROM blocks GROUP BY 1),
bits AS (
  SELECT b.i, b.fmt, b.by, b.bx,
         CASE WHEN b.s * 64 > t.tot THEN 1 ELSE 0 END AS a,
         CASE WHEN b.s > nx.s THEN 1 ELSE 0 END AS d
  FROM blocks b
  JOIN tot t ON t.i = b.i
  JOIN blocks nx ON nx.i = b.i AND nx.by = b.by
                 AND nx.bx = (b.bx + 1) % 8),
per AS (
  SELECT i, fmt, SUM(a) AS a_pop, SUM(d) AS d_pop,
         SUM(CASE WHEN a <> d THEN 1 ELSE 0 END) AS hamming,
         SUM(a * (by * 8 + bx + 1)) AS a_chk,
         SUM(d * (by * 8 + bx + 1)) AS d_chk
  FROM bits GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(a_pop) AS BIGINT) AS a_pop,
       CAST(SUM(d_pop) AS BIGINT) AS d_pop,
       CAST(SUM(hamming) AS BIGINT) AS hamming,
       CAST(SUM(a_chk * (i + 7)) AS BIGINT) AS a_chk,
       CAST(SUM(d_chk * (i + 11)) AS BIGINT) AS d_chk
FROM per GROUP BY 1
"""


# --- image_ssim_blocks: perceptual codec QA -------------------------------------
#
# Engine: real decode -> exact int64 block moments -> the SSIM float
# formula in ONE staged op order (multimodal.ssim_requant_checksums).
# Oracle: the identical staged temporaries as chained CTEs over the
# brute-force pixel lattice. qb images are already quantized, so their
# blocks hit ssim_q == 1e6 exactly -- a planted invariant the gate
# re-proves per round.


def q_image_ssim(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.ssim_requant_checksums(img))
    return (d.groupBy("fmt2")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_blocks").alias("n_blocks"),
                 F.sum("ssim_q_sum").alias("ssim_q_sum"),
                 F.min("ssim_q_min").alias("ssim_q_min"),
                 F.expr("SUM(ssim_q_sum * (i + 13))").alias("chk"))
            .selectExpr(
                "fmt2 AS fmt", "CAST(n_images AS BIGINT) AS n_images",
                "CAST(n_blocks AS BIGINT) AS n_blocks",
                "CAST(ssim_q_sum AS BIGINT) AS ssim_q_sum",
                "CAST(ssim_q_min AS BIGINT) AS ssim_q_min",
                "CAST(chk AS BIGINT) AS chk",
                "ROUND((CAST(ssim_q_sum AS DOUBLE) / 1000000.0)"
                " / CAST(n_blocks AS DOUBLE), 6) AS mean_ssim"))


def _oracle_ssim() -> str:
    from .multimodal import SSIM_C1, SSIM_C2
    v = _pix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + 1")
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
pix AS (
  SELECT i, fmt,
         CAST(FLOOR(yy.y / 8) AS BIGINT) AS by,
         CAST(FLOOR(xx.x / 8) AS BIGINT) AS bx,
         {v} AS x
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) xx),
pxy AS (SELECT i, fmt, by, bx, x, (x // 4) * 4 + 2 AS y FROM pix),
mom AS (
  SELECT i, fmt, by, bx,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pxy GROUP BY 1, 2, 3, 4),
mus AS (
  SELECT i, fmt, sxx, syy, sxy,
         CAST(sx AS DOUBLE) / 64.0 AS mux,
         CAST(sy AS DOUBLE) / 64.0 AS muy
  FROM mom),
vrs AS (
  SELECT i, fmt, mux, muy,
         CAST(sxx AS DOUBLE) / 64.0 - mux * mux AS vx,
         CAST(syy AS DOUBLE) / 64.0 - muy * muy AS vy,
         CAST(sxy AS DOUBLE) / 64.0 - mux * muy AS cxy
  FROM mus),
q AS (
  SELECT i, fmt,
         CAST(FLOOR(((2.0 * mux * muy + {SSIM_C1!r})
                     * (2.0 * cxy + {SSIM_C2!r}))
                    / ((mux * mux + muy * muy + {SSIM_C1!r})
                       * (vx + vy + {SSIM_C2!r})) * 1000000.0)
              AS BIGINT) AS sq
  FROM vrs),
per AS (
  SELECT i, fmt, COUNT(*) AS nb, CAST(SUM(sq) AS BIGINT) AS ssum,
         CAST(MIN(sq) AS BIGINT) AS smin
  FROM q GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(nb) AS BIGINT) AS n_blocks,
       CAST(SUM(ssum) AS BIGINT) AS ssim_q_sum,
       CAST(MIN(smin) AS BIGINT) AS ssim_q_min,
       CAST(SUM(ssum * (i + 13)) AS BIGINT) AS chk,
       ROUND((CAST(CAST(SUM(ssum) AS BIGINT) AS DOUBLE) / 1000000.0)
             / CAST(CAST(SUM(nb) AS BIGINT) AS DOUBLE), 6) AS mean_ssim
FROM per GROUP BY 1
"""


# --- image_hough_lines: quantized Hough accumulator -----------------------------


def q_image_hough(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    return (multimodal.hough_votes(img)
            .selectExpr("image_id", "CAST(n_edges AS BIGINT) AS n_edges",
                        "rank", "theta_idx",
                        "CAST(rho_bucket AS BIGINT) AS rho_bucket",
                        "CAST(votes AS BIGINT) AS votes"))


def _oracle_hough() -> str:
    from .multimodal import (HOUGH_OFF, HOUGH_RHO_Q, HOUGH_TAB,
                             HOUGH_THRESH, HOUGH_TOPK)
    v = _pix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + 1")
    tab = ", ".join(f"({t}, {c}, {s})" for t, c, s in HOUGH_TAB)
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
edges AS MATERIALIZED (
  SELECT i, yy.y AS y, xx.x AS x
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) xx
  WHERE {v} >= {HOUGH_THRESH}),
ecnt AS (SELECT i, COUNT(*) AS n_edges FROM edges GROUP BY 1),
thetas AS (SELECT * FROM (VALUES {tab}) AS t(t, c, s)),
votes AS (
  SELECT e.i, th.t,
         CAST((e.x * th.c + e.y * th.s + {HOUGH_OFF}) // {HOUGH_RHO_Q}
              AS BIGINT) AS rho_bucket,
         COUNT(*) AS n
  FROM edges e, thetas th GROUP BY 1, 2, 3),
top AS (
  SELECT i, t, rho_bucket, n,
         ROW_NUMBER() OVER (PARTITION BY i
           ORDER BY n DESC, t ASC, rho_bucket ASC) AS rk
  FROM votes)
SELECT printf('img%012d', tp.i) AS image_id,
       CAST(ec.n_edges AS BIGINT) AS n_edges,
       CAST(tp.rk AS INT) AS rank, CAST(tp.t AS INT) AS theta_idx,
       tp.rho_bucket, CAST(tp.n AS BIGINT) AS votes
FROM top tp JOIN ecnt ec ON ec.i = tp.i
WHERE tp.rk <= {HOUGH_TOPK}
"""


QUERIES: dict = {
    "image_boxfilter": (q_image_boxfilter, _oracle_boxfilter()),
    "image_median_denoise": (q_image_median, _oracle_median()),
    "image_hash_family": (q_image_hash_family, _oracle_hash_family()),
    "image_ssim": (q_image_ssim, _oracle_ssim()),
    "image_hough_lines": (q_image_hough, _oracle_hough()),
}


# --- douglas_peucker: fixed-round split simplification ----------------------
#
# The classic polyline simplifier (the docstring's promised geometry op):
# keep the endpoints, then for DP_ROUNDS rounds split every active
# segment at its farthest interior point if that point's perpendicular
# offset exceeds EPS.  The distance test is EXACT: the point-line offset
# compares cr^2 > EPS^2 * len2 where cr is the integer doubled triangle
# area ((bx-ax)(py-ay) - (px-ax)(by-ay)) on the 1e-3-degree lattice —
# cr <= 1.2e11 fits int64, cr^2 needs DECIMAL(19,0)^2 -> DECIMAL(38,0)
# (squaring a DECIMAL(38,0) trips DuckDB's precision cap — the Otsu
# lesson — so the cast happens at width 19).  Trajectories are the first
# DP_NP=16 events per user (bounded DP depth by construction); each
# round is two user-keyed windows + two bounded joins + one argmax —
# nothing data-proportional on the driver, and the 3-round unroll is the
# same fixed-point trick as kmeans_rounds/CRS-Newton.  The oracle
# replays the identical rounds as MATERIALIZED CTEs; pytest runs a
# recursive textbook DP on the same quantized points.

DP_NP, DP_ROUNDS, DP_EPS = 16, 3, 50
DP_EPS2 = DP_EPS * DP_EPS

_DP_QX = (f"CAST(FLOOR(({fixtures.EVENT_LON_SQL} + 180.0) * 1000.0) "
          "AS BIGINT)")
_DP_QY = (f"CAST(FLOOR(({fixtures.EVENT_LAT_SQL} + 85.0) * 1000.0) "
          "AS BIGINT)")


def _dp_points(spark, sf_dir):
    e = _t(spark, sf_dir, "events").selectExpr(
        "user_id AS u", "event_id",
        "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us",
        f"{_DP_QX} AS qx", f"{_DP_QY} AS qy")
    rn = (e.withColumn(
        "rn", F.expr("ROW_NUMBER() OVER (PARTITION BY u "
                     "ORDER BY us, event_id)"))
        .where(f"rn <= {DP_NP}"))
    return (rn.withColumn("n", F.expr("COUNT(*) OVER (PARTITION BY u)"))
            .selectExpr("u", "rn - 1 AS idx", "qx", "qy", "n",
                        "rn = 1 OR rn = n AS kept"))


def _dp_round(pts):
    from pyspark.sql import Window as W
    w_pre = (W.partitionBy("u").orderBy("idx")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    w_post = (W.partitionBy("u").orderBy("idx")
              .rowsBetween(W.currentRow, W.unboundedFollowing))
    seg = (pts
           .withColumn("lo", F.max(F.when(F.col("kept"),
                                          F.col("idx"))).over(w_pre))
           .withColumn("hi", F.min(F.when(F.col("kept"),
                                          F.col("idx"))).over(w_post)))
    a = pts.selectExpr("u AS au", "idx AS aidx", "qx AS ax", "qy AS ay")
    b = pts.selectExpr("u AS bu", "idx AS bidx", "qx AS bx", "qy AS by2")
    scored = (seg.where("NOT kept AND lo IS NOT NULL AND hi IS NOT NULL")
              .join(a, (F.col("u") == F.col("au"))
                    & (F.col("lo") == F.col("aidx")))
              .join(b, (F.col("u") == F.col("bu"))
                    & (F.col("hi") == F.col("bidx")))
              .selectExpr(
                  "u", "idx", "lo",
                  "CAST((bx - ax) * (qy - ay) - (qx - ax) * (by2 - ay) "
                  "AS DECIMAL(19,0)) AS cr",
                  "(bx - ax) * (bx - ax) + (by2 - ay) * (by2 - ay) "
                  "AS len2")
              .selectExpr("u", "idx", "lo", "cr * cr AS cr2", "len2"))
    from pyspark.sql import Window as W2
    win = W2.partitionBy("u", "lo").orderBy(F.col("cr2").desc(),
                                            F.col("idx").asc())
    split = (scored.withColumn("rk", F.row_number().over(win))
             .where(f"rk = 1 AND cr2 > CAST({DP_EPS2} * len2 "
                    "AS DECIMAL(38,0))")
             .selectExpr("u AS su", "idx AS sidx"))
    return (pts.join(split, (pts["u"] == split["su"])
                     & (pts["idx"] == split["sidx"]), "left")
            .selectExpr("u", "idx", "qx", "qy", "n",
                        "kept OR sidx IS NOT NULL AS kept"))


def q_douglas_peucker(spark, sf_dir):
    pts = _dp_points(spark, sf_dir)
    for _ in range(DP_ROUNDS):
        pts = _dp_round(pts)
    kept = (pts.where("kept")
            .withColumn("seq", F.expr(
                "ROW_NUMBER() OVER (PARTITION BY u ORDER BY idx)")))
    return (kept.groupBy("u")
            .agg(F.max("n").alias("n_points"),
                 F.count(F.lit(1)).alias("n_kept"),
                 F.expr("SUM(seq * (qx * 31 + qy * 97))").alias("ck"))
            .selectExpr("u AS user_id",
                        "CAST(n_points AS BIGINT) AS n_points",
                        "CAST(n_kept AS BIGINT) AS n_kept",
                        "CAST(ck AS BIGINT) AS kept_checksum"))


def _oracle_dp() -> str:
    rounds = []
    for r in range(1, DP_ROUNDS + 1):
        p = f"k{r - 1}"
        rounds.append(f"""
seg{r} AS (
  SELECT u, idx, qx, qy, n, kept,
         MAX(CASE WHEN kept THEN idx END) OVER
           (PARTITION BY u ORDER BY idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lo,
         MIN(CASE WHEN kept THEN idx END) OVER
           (PARTITION BY u ORDER BY idx
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS hi
  FROM {p}),
sc{r} AS (
  SELECT s.u, s.idx, s.lo,
         CAST((b.qx - a.qx) * (s.qy - a.qy)
              - (s.qx - a.qx) * (b.qy - a.qy) AS DECIMAL(19,0)) AS cr,
         (b.qx - a.qx) * (b.qx - a.qx)
         + (b.qy - a.qy) * (b.qy - a.qy) AS len2
  FROM seg{r} s
  JOIN {p} a ON a.u = s.u AND a.idx = s.lo
  JOIN {p} b ON b.u = s.u AND b.idx = s.hi
  WHERE NOT s.kept AND s.lo IS NOT NULL AND s.hi IS NOT NULL),
sp{r} AS (
  SELECT u, idx FROM (
    SELECT u, idx, cr * cr AS cr2, len2,
           ROW_NUMBER() OVER (PARTITION BY u, lo
                              ORDER BY cr * cr DESC, idx ASC) AS rk
    FROM sc{r})
  WHERE rk = 1 AND cr2 > CAST({DP_EPS2} * len2 AS DECIMAL(38,0))),
k{r} AS MATERIALIZED (
  SELECT k.u, k.idx, k.qx, k.qy, k.n,
         k.kept OR sp.idx IS NOT NULL AS kept
  FROM {p} k LEFT JOIN sp{r} sp ON sp.u = k.u AND sp.idx = k.idx)""")
    chain = ",".join(rounds)
    return f"""
WITH ev AS MATERIALIZED (
  SELECT user_id AS u, event_id, epoch_us(ts) AS us,
         {_DP_QX} AS qx, {_DP_QY} AS qy
  FROM events),
capped AS (
  SELECT u, qx, qy, rn FROM (
    SELECT u, qx, qy,
           ROW_NUMBER() OVER (PARTITION BY u ORDER BY us, event_id) AS rn
    FROM ev)
  WHERE rn <= {DP_NP}),
k0 AS MATERIALIZED (
  SELECT u, rn - 1 AS idx, qx, qy,
         COUNT(*) OVER (PARTITION BY u) AS n,
         rn = 1 OR rn = COUNT(*) OVER (PARTITION BY u) AS kept
  FROM capped),
{chain},
kk AS (
  SELECT u, qx, qy, n,
         ROW_NUMBER() OVER (PARTITION BY u ORDER BY idx) AS seq
  FROM k{DP_ROUNDS} WHERE kept)
SELECT u AS user_id, CAST(MAX(n) AS BIGINT) AS n_points,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(seq * (qx * 31 + qy * 97)) AS BIGINT) AS kept_checksum
FROM kk GROUP BY u
"""


QUERIES.update({
    "douglas_peucker": (q_douglas_peucker, _oracle_dp()),
})


# --- mann_whitney_u: rank-sum test with midranks + tie correction -----------
#
# The nonparametric two-sample test the welch_ttest family lacked (no
# normality assumption — the right test for skewed revenue): users
# hash-split into the ab_test variants, samples are purchase values
# quantized to whole DOLLARS (cents leave zero ties at small SFs — the
# tie-correction machinery would gate vacuously; dollars tie at every
# SF, the planted-structure rule).
# Midranks stay EXACT by doubling: a tie group of size t spanning ranks
# [a, a+t-1] gives every member doubled midrank 2*cum + t + 1 (an
# integer), so the doubled rank sum dr0 and doubled U statistic
# du0 = dr0 - n0*(n0+1) are exact integer aggregates (DECIMAL(38,0)
# accumulation — the money-sum rule; t^3 tie terms stay int64 to ~2e6
# rows per tie group).  All ranking happens on the distinct-cent-value
# AGGREGATE (the outlier_audit two-phase histogram shape — the ordered
# window sees |distinct cents| rows, never the corpus).  z composes the
# exact integers in ONE shared literal under ROUND(...,6).

_MW_G = None  # set below; uses the ab_test hash split


def _mw_sql_parts():
    from .hashing import mix_sql
    g = f"(({mix_sql('user_id * 7 + 5')}) % 2)"
    cents = "CAST(FLOOR(value) AS BIGINT)"
    z = ("ROUND(CAST(du0 - n0 * n1 AS DOUBLE) / "
         "(2.0 * SQRT(CAST(n0 AS DOUBLE) * n1 / 12.0 * "
         "(CAST(nn + 1 AS DOUBLE) - CAST(tie_t AS DOUBLE) / "
         "(CAST(nn AS DOUBLE) * (nn - 1))))), 6) + 0.0")
    return g, cents, z


def q_mann_whitney(spark, sf_dir):
    g, cents, z = _mw_sql_parts()
    smp = (_t(spark, sf_dir, "events").where("event_type = 'purchase'")
           .selectExpr(f"{g} AS g", f"{cents} AS v"))
    per_v = smp.groupBy("v").agg(
        F.count(F.lit(1)).alias("t"),
        F.expr("SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END)").alias("t0"))
    ranked = per_v.selectExpr(
        "v", "t", "t0",
        "SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW) - t AS cum")
    agg = ranked.groupBy().agg(
        F.expr("SUM(CASE WHEN TRUE THEN t ELSE 0 END)").alias("nn"),
        F.expr("SUM(t0)").alias("n0"),
        F.expr("CAST(SUM(CAST(t0 AS DECIMAL(38,0)) * (2 * cum + t + 1)) "
               "AS BIGINT)").alias("dr0"),
        F.expr("SUM(t * t * t - t)").alias("tie_t"))
    return (agg.selectExpr("CAST(n0 AS BIGINT) AS n0",
                           "CAST(nn - n0 AS BIGINT) AS n1",
                           "CAST(nn AS BIGINT) AS nn",
                           "CAST(dr0 AS BIGINT) AS dr0",
                           "CAST(dr0 - n0 * (n0 + 1) AS BIGINT) AS du0",
                           "CAST(tie_t AS BIGINT) AS tie_t")
            .selectExpr("n0", "n1", "dr0", "du0", "tie_t", f"{z} AS z"))


def _oracle_mw() -> str:
    g, cents, z = _mw_sql_parts()
    return f"""
WITH smp AS (
  SELECT {g} AS g, {cents} AS v FROM events
  WHERE event_type = 'purchase'),
per_v AS (
  SELECT v, COUNT(*) AS t,
         SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS t0
  FROM smp GROUP BY v),
ranked AS (
  SELECT v, t, t0,
         SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
                      CURRENT ROW) - t AS cum
  FROM per_v),
agg AS (
  SELECT CAST(SUM(t) AS BIGINT) AS nn, CAST(SUM(t0) AS BIGINT) AS n0,
         CAST(SUM(CAST(t0 AS DECIMAL(38,0)) * (2 * cum + t + 1))
              AS BIGINT) AS dr0,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_t
  FROM ranked),
fin AS (
  SELECT n0, nn - n0 AS n1, nn, dr0,
         dr0 - n0 * (n0 + 1) AS du0, tie_t
  FROM agg)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       CAST(dr0 AS BIGINT) AS dr0, CAST(du0 AS BIGINT) AS du0,
       CAST(tie_t AS BIGINT) AS tie_t, {z} AS z
FROM fin
"""


# --- hits_scores: fixed-point integer HITS on the customer-supplier graph ---
#
# Hubs-and-authorities (the docstring's promised graph op — the
# pagerank_fixedpoint trick applied to Kleinberg's bipartite recurrence):
# edges are DISTINCT (customer, supplier) pairs through orders->lineitem;
# two synchronous rounds of a(s) = SUM h(c), h(c) = SUM a(s), each
# followed by floor-normalization to a 2^20 integer budget
# (score * 2^20 DIV total — exact on non-negatives, Spark DIV == DuckDB
# //), so every distributed aggregate is an exact int64 at any
# aggregation order.  Each half-round is ONE shuffle keyed by the
# receiving vertex; totals are 1-row broadcast cross joins; the top-15
# readout ranks on the exact integer with suppkey tiebreak.

HITS_Q = 1 << 20
HITS_TOPK = 15


def q_hits_scores(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").selectExpr("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").selectExpr("l_orderkey", "l_suppkey")
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .selectExpr("o_custkey AS c", "l_suppkey AS s").distinct())
    a1 = edges.groupBy("s").agg(F.count(F.lit(1)).alias("a"))
    a1t = a1.groupBy().agg(F.sum("a").alias("tot"))
    a1q = (a1.crossJoin(F.broadcast(a1t))
           .selectExpr("s", f"a * {HITS_Q} DIV tot AS aq"))
    h1 = (edges.join(a1q, "s").groupBy("c")
          .agg(F.sum("aq").alias("h")))
    h1t = h1.groupBy().agg(F.sum("h").alias("tot"))
    h1q = (h1.crossJoin(F.broadcast(h1t))
           .selectExpr("c", f"h * {HITS_Q} DIV tot AS hq"))
    a2 = (edges.join(h1q, "c").groupBy("s")
          .agg(F.sum("hq").alias("a"), F.count(F.lit(1)).alias("deg")))
    a2t = a2.groupBy().agg(F.sum("a").alias("tot"))
    a2q = (a2.crossJoin(F.broadcast(a2t))
           .selectExpr("s", "deg", f"a * {HITS_Q} DIV tot AS aq"))
    return (a2q.withColumn(
        "rk", F.expr("ROW_NUMBER() OVER (ORDER BY aq DESC, s ASC)"))
        .where(f"rk <= {HITS_TOPK}")
        .selectExpr("CAST(rk AS INT) AS rk", "s AS s_suppkey",
                    "CAST(deg AS BIGINT) AS in_degree",
                    "CAST(aq AS BIGINT) AS auth_q"))


def _oracle_hits() -> str:
    return f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
a1 AS (SELECT s, COUNT(*) AS a FROM edges GROUP BY s),
a1q AS MATERIALIZED (
  SELECT s, a * {HITS_Q} // (SELECT SUM(a) FROM a1) AS aq FROM a1),
h1 AS (
  SELECT e.c, SUM(q.aq) AS h FROM edges e JOIN a1q q ON q.s = e.s
  GROUP BY e.c),
h1q AS MATERIALIZED (
  SELECT c, h * {HITS_Q} // (SELECT SUM(h) FROM h1) AS hq FROM h1),
a2 AS (
  SELECT e.s, SUM(q.hq) AS a, COUNT(*) AS deg
  FROM edges e JOIN h1q q ON q.c = e.c GROUP BY e.s),
a2q AS (
  SELECT s, deg, a * {HITS_Q} // (SELECT SUM(a) FROM a2) AS aq FROM a2),
top AS (
  SELECT s, deg, aq, ROW_NUMBER() OVER (ORDER BY aq DESC, s ASC) AS rk
  FROM a2q)
SELECT CAST(rk AS INT) AS rk, s AS s_suppkey,
       CAST(deg AS BIGINT) AS in_degree, CAST(aq AS BIGINT) AS auth_q
FROM top WHERE rk <= {HITS_TOPK}
"""


QUERIES.update({
    "mann_whitney_u": (q_mann_whitney, _oracle_mw()),
    "hits_scores": (q_hits_scores, _oracle_hits()),
})


# --- series_autocorr: ACF of the hourly purchase series at lags 1..3 --------
#
# Autocorrelation of ONE series (event_lag_correlation is the CROSS-
# correlation of two event types; the ACF is what an anomaly detector or
# seasonal-model selector actually reads).  The hourly count series is
# DENSE — a sequence-exploded spine from min to max hour, empty hours
# count 0 — because ACF over a gappy series silently measures the wrong
# lag.  Textbook estimator  r_k = SUM(c_t - m)(c_{t+k} - m) / SUM(c - m)^2
# with the full-series mean, composed EXACTLY: multiplying through by n^2
# gives  r_k = (n^2*Scc_k - n*S1*(SA_k + SB_k) + (n-k)*S1^2)
#            / (n*(n*Sq - S1^2))
# where every S is an exact integer aggregate (DECIMAL(38,0)
# accumulation — the money-sum rule) and r_k is ONE shared literal under
# ROUND(...,6).  The corpus-scale work is one hour-keyed groupBy; the
# spine and the three lag self-joins live on the span-bounded aggregate.

ACF_LAGS = (1, 2, 3)


def q_series_autocorr(spark, sf_dir):
    e = (_t(spark, sf_dir, "events").where("event_type = 'purchase'")
         .selectExpr("CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) "
                     "/ 3600000000) AS BIGINT) AS h"))
    counts = e.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    span = counts.groupBy().agg(F.min("h").alias("h0"),
                                F.max("h").alias("h1"))
    spine = (span.selectExpr("explode(sequence(h0, h1)) AS h")
             .join(counts, "h", "left")
             .selectExpr("h", "COALESCE(c, CAST(0 AS BIGINT)) AS c"))
    spine = spine.localCheckpoint()  # reused by 3 lag joins + the moments
    mom = spine.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(SUM(CAST(c AS DECIMAL(38,0))) AS BIGINT)").alias("s1"),
        F.expr("CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS BIGINT)")
        .alias("sq"))
    outs = []
    for k in ACF_LAGS:
        b = spine.selectExpr("h AS hb", "c AS cb")
        lag = (spine.join(b, F.col("h") + k == F.col("hb"))
               .groupBy().agg(
                   F.expr("CAST(SUM(CAST(c AS DECIMAL(38,0)) * cb) "
                          "AS BIGINT)").alias("scc"),
                   F.expr("CAST(SUM(CAST(c AS DECIMAL(38,0))) AS BIGINT)")
                   .alias("sa"),
                   F.expr("CAST(SUM(CAST(cb AS DECIMAL(38,0))) AS BIGINT)")
                   .alias("sb"))
               .selectExpr(f"CAST({k} AS INT) AS lag", "scc", "sa", "sb"))
        outs.append(lag)
    allk = outs[0]
    for o in outs[1:]:
        allk = allk.unionAll(o)
    r = ("ROUND((CAST(n AS DOUBLE) * n * scc - CAST(n AS DOUBLE) * s1 * "
         "(sa + sb) + (CAST(n AS DOUBLE) - lag) * s1 * s1) / "
         "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * sq - "
         "CAST(s1 AS DOUBLE) * s1)), 6) + 0.0")
    return (allk.crossJoin(F.broadcast(mom))
            .selectExpr("lag", "CAST(n AS BIGINT) AS n", "scc", f"{r} AS r"))


def _oracle_acf() -> str:
    r = ("ROUND((CAST(n AS DOUBLE) * n * scc - CAST(n AS DOUBLE) * s1 * "
         "(sa + sb) + (CAST(n AS DOUBLE) - lag) * s1 * s1) / "
         "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * sq - "
         "CAST(s1 AS DOUBLE) * s1)), 6) + 0.0")
    lag_sel = " UNION ALL ".join(
        f"SELECT {k} AS lag" for k in ACF_LAGS)
    return f"""
WITH e AS (
  SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS h
  FROM events WHERE event_type = 'purchase'),
counts AS (SELECT h, COUNT(*) AS c FROM e GROUP BY h),
span AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM counts),
spine AS MATERIALIZED (
  SELECT g.h, COALESCE(c.c, 0) AS c
  FROM (SELECT UNNEST(GENERATE_SERIES((SELECT h0 FROM span),
                                      (SELECT h1 FROM span))) AS h) g
  LEFT JOIN counts c ON c.h = g.h),
mom AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(c AS DECIMAL(38,0))) AS BIGINT) AS s1,
         CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS BIGINT) AS sq
  FROM spine),
lags AS ({lag_sel}),
lagagg AS (
  SELECT l.lag,
         CAST(SUM(CAST(a.c AS DECIMAL(38,0)) * b.c) AS BIGINT) AS scc,
         CAST(SUM(CAST(a.c AS DECIMAL(38,0))) AS BIGINT) AS sa,
         CAST(SUM(CAST(b.c AS DECIMAL(38,0))) AS BIGINT) AS sb
  FROM lags l JOIN spine a ON TRUE JOIN spine b ON b.h = a.h + l.lag
  GROUP BY l.lag)
SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n, scc, {r} AS r
FROM lagagg, mom
"""


QUERIES.update({
    "series_autocorr": (q_series_autocorr, _oracle_acf()),
})


# --- image_bilinear_upsample: exact x4-scaled 2x interpolation ---------------
#
# The resize family's other half (image_augment_checksums pinned the
# nearest-neighbor DOWNsample; training pipelines upsample small images
# with bilinear): 2x top-left-aligned replicate-edge interpolation where
# every output sample is a half-integer average, so x4 scaling keeps the
# entire kernel in exact int64 — no float interpolation error term
# exists for the gate to tolerate.  The oracle recomputes every output
# sample from the pixel formula with the parity-weight rule
# (4p / 2(p+q) / p+q+r+s); a swapped parity branch, missing edge clamp,
# or axis transpose shifts the output-lattice-weighted checksum.

def q_image_bilinear(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.bilinear_checksums(img))
    return (d.groupBy("fmt2")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("mass4").alias("mass4"),
                 F.expr("SUM(cs_up * (i + 13))").alias("checksum"))
            .selectExpr("fmt2 AS fmt",
                        "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(mass4 AS BIGINT) AS mass4",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_bilinear() -> str:
    def p(iy: str, jx: str) -> str:
        return _pix_sql(f"i * 1000003 + ({iy}) * 4096 + ({jx}) * 4 + cc.c")
    v4 = (f"(2 - oy.y % 2) * (2 - ox.x % 2) * {p('oy.y // 2', 'ox.x // 2')}"
          f" + (2 - oy.y % 2) * (ox.x % 2) * "
          f"{p('oy.y // 2', 'LEAST(ox.x // 2 + 1, w - 1)')}"
          f" + (oy.y % 2) * (2 - ox.x % 2) * "
          f"{p('LEAST(oy.y // 2 + 1, h - 1)', 'ox.x // 2')}"
          f" + (oy.y % 2) * (ox.x % 2) * "
          f"{p('LEAST(oy.y // 2 + 1, h - 1)', 'LEAST(ox.x // 2 + 1, w - 1)')}")
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
samples AS (
  SELECT i, fmt, {v4} AS v4,
         1 + (ox.x * 31 + oy.y * 17 + cc.c * 7) % 101 AS wt
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2 * h - 1)) AS y) oy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2 * w - 1)) AS x) ox,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc),
per AS (
  SELECT i, fmt, SUM(v4) AS mass4, SUM(v4 * wt) AS cs
  FROM samples GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(mass4) AS BIGINT) AS mass4,
       CAST(SUM(cs * (i + 13)) AS BIGINT) AS checksum
FROM per GROUP BY fmt
"""


# --- image_moments: raw moments + orientation -------------------------------
#
# The registration/blob primitive: raw green-channel moments
# m00..m11 (all exact int64), centroid as two single float divisions,
# and the principal-axis orientation theta = atan2(2*mu11, mu20-mu02)/2
# where the CENTRAL moments are composed exactly at m00^2 scale
# (mu20*m00^2 = m20*m00 - m10^2 — integer) so theta is ONE literal float
# expression over exact integers, shared verbatim with the oracle.

# Central moments composed at DECIMAL(19,0)^2 width: m20*m00 can reach
# ~1.6e19 on an all-bright 80x80 image — past int64, where DuckDB raises
# and Spark wraps.  The DECIMAL(38,0) products are exact; the DOUBLE
# conversions and the ATAN2 composition are one shared literal.
def _mom_c(a: str, b: str, c: str, d: str) -> str:
    return (f"CAST(CAST({a} AS DECIMAL(19,0)) * CAST({b} AS DECIMAL(19,0))"
            f" - CAST({c} AS DECIMAL(19,0)) * CAST({d} AS DECIMAL(19,0))"
            f" AS DOUBLE)")


_MOM_THETA = (f"ROUND(0.5 * ATAN2(CAST(2 AS DOUBLE) * "
              f"{_mom_c('m11', 'm00', 'm10', 'm01')}, "
              f"{_mom_c('m20', 'm00', 'm10', 'm10')} - "
              f"{_mom_c('m02', 'm00', 'm01', 'm01')}), 6) + 0.0")


def q_image_moments(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.moment_stats(img))
    theta = _MOM_THETA
    return d.selectExpr(
        "image_id", "m00", "m10", "m01", "m20", "m02", "m11",
        "ROUND(CAST(m10 AS DOUBLE) / m00, 6) AS cx",
        "ROUND(CAST(m01 AS DOUBLE) / m00, 6) AS cy",
        f"{theta} AS theta")


def _oracle_moments() -> str:
    v = _pix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + 1")
    theta = _MOM_THETA
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
px AS (
  SELECT i, yy.y AS y, xx.x AS x, {v} AS v
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) xx),
m AS (
  SELECT i, SUM(v) AS m00, SUM(v * x) AS m10, SUM(v * y) AS m01,
         SUM(v * x * x) AS m20, SUM(v * y * y) AS m02,
         SUM(v * x * y) AS m11
  FROM px GROUP BY i)
SELECT printf('img%012d', i) AS image_id,
       CAST(m00 AS BIGINT) AS m00, CAST(m10 AS BIGINT) AS m10,
       CAST(m01 AS BIGINT) AS m01, CAST(m20 AS BIGINT) AS m20,
       CAST(m02 AS BIGINT) AS m02, CAST(m11 AS BIGINT) AS m11,
       ROUND(CAST(m10 AS DOUBLE) / m00, 6) AS cx,
       ROUND(CAST(m01 AS DOUBLE) / m00, 6) AS cy,
       {theta} AS theta
FROM m
"""


QUERIES.update({
    "image_bilinear_upsample": (q_image_bilinear, _oracle_bilinear()),
    "image_moments": (q_image_moments, _oracle_moments()),
})


# --- detection_iou_match: greedy box assignment (detection QA) ---------------------
#
# The object-detection evaluation primitive: match each image's predicted
# boxes to its ground-truth boxes greedily by IoU (threshold 0.5), then
# report corpus precision-style tallies.  The assignment is an ITERATIVE
# algorithm — pick the best pair, exclude its row/column, repeat — but
# with K=3 boxes a side it unrolls EXACTLY into three staged projections:
# the 9 pair keys are computed ONCE as real columns (so the staged CASEs
# reference column names, not repeated expression trees), round 1 is one
# GREATEST, round 2 a 9-branch CASE of 4-key GREATESTs, and round 3 is
# index arithmetic (the unused row/col is 3 − used − used).  Everything
# is exact integer math: intersections/unions of integer boxes, IoU
# quantized by one identical FLOOR division, threshold as the exact test
# 2·inter ≥ union folded into the key (a sub-threshold pair keys to 0 and
# can never be picked).  Per-image work is O(K²) columns — at 10^12
# images this is a map-only pass plus one tiny-key rollup.
#
# Boxes are deterministic functions of image_id (truth) and truth ± hash
# jitter (predictions), so the oracle replays them exactly.

IOU_Q = 1_000_000
DET_N = 4000  # images gated (doc-scale slice; the op itself is map-only)


def _det_box(kind: str, i: int) -> dict:
    """Integer box k in a 64x64 space as SQL exprs of image_id."""
    s = 0 if kind == "t" else 100
    m = lambda salt: f"({mix_sql(f'image_id * 16 + {salt}')})"  # noqa: E731
    x1 = f"({m(s + i * 4 + 0)} % 48)"
    y1 = f"({m(s + i * 4 + 1)} % 48)"
    if kind == "t":
        x2 = f"({x1} + 4 + {m(s + i * 4 + 2)} % 12)"
        y2 = f"({y1} + 4 + {m(s + i * 4 + 3)} % 12)"
        return {"x1": x1, "y1": y1, "x2": x2, "y2": y2}
    # prediction: truth box i jittered by -2..+2 per edge (often IoU>=0.5,
    # sometimes not — both match outcomes exercised)
    t = _det_box("t", i)
    return {k: f"({t[k]} + {m(s + i * 4 + ord(k[0]) + len(k))} % 5 - 2)"
            for k in t}


def _det_pair_cols() -> list[str]:
    """k0..k8 column exprs: key = meets_0.5 * (iou_q * 16 + (8 - idx))."""
    cols = []
    for p in range(3):
        tp = _det_box("p", p)
        for t in range(3):
            tt = _det_box("t", t)
            idx = p * 3 + t
            iw = (f"GREATEST(0, LEAST({tp['x2']}, {tt['x2']}) "
                  f"- GREATEST({tp['x1']}, {tt['x1']}))")
            ih = (f"GREATEST(0, LEAST({tp['y2']}, {tt['y2']}) "
                  f"- GREATEST({tp['y1']}, {tt['y1']}))")
            inter = f"({iw} * {ih})"
            area_p = f"(({tp['x2']} - {tp['x1']}) * ({tp['y2']} - {tp['y1']}))"
            area_t = f"(({tt['x2']} - {tt['x1']}) * ({tt['y2']} - {tt['y1']}))"
            union = f"({area_p} + {area_t} - {inter})"
            iou_q = (f"CAST(FLOOR(CAST({inter} AS DOUBLE) * {IOU_Q}.0 "
                     f"/ {union}) AS BIGINT)")
            meets = f"CAST(2 * {inter} >= {union} AS INT)"
            cols.append(f"{meets} * ({iou_q} * 16 + {8 - idx}) AS k{idx}")
    return cols


def _det_rounds_sql() -> list[str]:
    """Staged greedy rounds over the k0..k8 columns."""
    ks = [f"k{i}" for i in range(9)]
    r1 = f"GREATEST({', '.join(ks)}) AS r1"
    # decode helpers (idx = 8 - key % 16; p = idx div 3; t = idx % 3)
    dec = ("CAST(8 - (r1 % 16) AS BIGINT) AS i1",)
    # round 2: exclude row p1 and column t1 -> 4 surviving keys per branch
    b2 = []
    for p in range(3):
        for t in range(3):
            idx = p * 3 + t
            rest = [f"k{pp * 3 + tt}" for pp in range(3) if pp != p
                    for tt in range(3) if tt != t]
            b2.append(f"WHEN i1 = {idx} THEN GREATEST({', '.join(rest)})")
    r2 = ("CASE WHEN r1 = 0 THEN CAST(0 AS BIGINT) "
          + " ".join(b2) + " END AS r2")
    return [r1, *dec, r2]


_DET_R3 = (
    # the single remaining pair after two rounds: p3 = 3 - p1 - p2,
    # t3 = 3 - t1 - t2 — index arithmetic, no search
    "CASE WHEN r2 = 0 THEN CAST(0 AS BIGINT) ELSE "
    "CASE (3 - CAST(FLOOR(i1 / 3.0) AS BIGINT) "
    "- CAST(FLOOR((8 - (r2 % 16)) / 3.0) AS BIGINT)) * 3 "
    "+ (3 - i1 % 3 - (8 - (r2 % 16)) % 3) "
    + " ".join(f"WHEN {i} THEN k{i}" for i in range(9))
    + " END END AS r3")

_DET_OUT = (
    "CAST(COUNT(*) AS BIGINT) AS n_images",
    "CAST(SUM(CAST(r1 > 0 AS INT) + CAST(r2 > 0 AS INT) "
    "+ CAST(r3 > 0 AS INT)) AS BIGINT) AS n_matched",
    f"CAST(SUM(CAST(FLOOR(r1 / 16.0) AS BIGINT) "
    f"+ CAST(FLOOR(r2 / 16.0) AS BIGINT) "
    f"+ CAST(FLOOR(r3 / 16.0) AS BIGINT)) AS BIGINT) AS sum_iou_q",
    f"ROUND(CAST(SUM(CAST(r1 > 0 AS INT) + CAST(r2 > 0 AS INT) "
    f"+ CAST(r3 > 0 AS INT)) AS DOUBLE) / (3.0 * COUNT(*)), 6) "
    "AS precision_at_3",
)


def q_detection_iou_match(spark, sf_dir):
    ks = ["k0", "k1", "k2", "k3", "k4", "k5", "k6", "k7", "k8"]
    r1, i1, r2 = _det_rounds_sql()
    ids = spark.range(DET_N).selectExpr("id AS image_id",
                                        "id % 3 AS cohort")
    pairs = ids.selectExpr("image_id", "cohort", *_det_pair_cols())
    s1 = pairs.selectExpr("cohort", *ks, r1)          # aliases feed the
    s2 = s1.selectExpr("cohort", *ks, "r1", i1)       # NEXT stage, never
    s3 = s2.selectExpr("cohort", *ks, "r1", "i1", r2)  # their own SELECT
    fin = s3.selectExpr("cohort", "r1", "r2", _DET_R3)
    return (fin.groupBy("cohort")
            .agg(*[F.expr(e.rsplit(" AS ", 1)[0])
                   .alias(e.rsplit(" AS ", 1)[1]) for e in _DET_OUT])
            .selectExpr("CAST(cohort AS BIGINT) AS cohort", "n_images",
                        "n_matched", "sum_iou_q", "precision_at_3"))


def _oracle_det() -> str:
    r1, i1, r2 = _det_rounds_sql()
    ks = ", ".join(f"k{i}" for i in range(9))
    return f"""
WITH ids AS (
  SELECT i AS image_id, i % 3 AS cohort
  FROM generate_series(0, {DET_N - 1}) AS g(i)),
pairs AS (
  SELECT image_id, cohort, {", ".join(_det_pair_cols())} FROM ids),
s1 AS (SELECT cohort, {ks}, {r1} FROM pairs),
s2 AS (SELECT cohort, {ks}, r1, {i1} FROM s1),
s3 AS (SELECT cohort, {ks}, r1, i1, {r2} FROM s2),
fin AS (SELECT cohort, r1, r2, {_DET_R3} FROM s3)
SELECT CAST(cohort AS BIGINT) AS cohort, {", ".join(_DET_OUT)}
FROM fin GROUP BY cohort
"""


QUERIES.update({
    "detection_iou_match": (q_detection_iou_match, _oracle_det()),
})


# --- nms_boxes: non-maximum suppression (detection inference) ---------------------
#
# The inference-side sibling of detection_iou_match (eval-side greedy
# assignment): each image carries K=4 score-ORDERED candidate boxes; NMS
# walks them best-first and suppresses any box whose IoU with an already-
# KEPT box exceeds 0.5.  The loop state is only "which earlier boxes
# survived", so at K=4 it unrolls into pure boolean logic over the 6
# pairwise strict-overlap bits s_ij = (2·inter > union):
#   keep1 = ¬s01
#   keep2 = ¬s02 ∧ ¬(keep1 ∧ s12)
#   keep3 = ¬s03 ∧ ¬(keep1 ∧ s13) ∧ ¬(keep2 ∧ s23)
# — one map-only projection, no iteration, no shuffle beyond the tiny
# cohort rollup.  Boxes are integer (exact inter/union); score order is
# by construction (standard NMS input is pre-sorted by confidence).

NMS_N = 4000


def _nms_box(i: int) -> dict:
    """Box i (0..3): a 12..20-sized detection jittered ±8 around a shared
    per-image object center — the realistic NMS input (multiple
    detections of one object), so suppression genuinely bites."""
    m = lambda s: f"({mix_sql(f'image_id * 32 + {s}')})"  # noqa: E731
    # bimodal jitter — tight (±2, suppressed at IoU 0.5) or far (×3,
    # survives) — so the kept-count spectrum spans 1..4 (333/1794/1588/
    # 285 at N=4000, tuned empirically)
    jx = f"(({m(200 + i * 4)} % 5 - 2) * (1 + 2 * ({m(210 + i * 4)} % 2)))"
    jy = f"(({m(201 + i * 4)} % 5 - 2) * (1 + 2 * ({m(211 + i * 4)} % 2)))"
    x1 = f"({m(100)} % 36 + {jx})"
    y1 = f"({m(101)} % 36 + {jy})"
    x2 = f"({x1} + 14 + {m(202 + i * 4)} % 3)"
    y2 = f"({y1} + 14 + {m(203 + i * 4)} % 3)"
    return {"x1": x1, "y1": y1, "x2": x2, "y2": y2}


def _nms_area_cols() -> list[str]:
    """Stage 1: per-box integer areas (aliases feed the NEXT stage)."""
    cols = []
    for i in range(4):
        b = _nms_box(i)
        cols.append(f"(({b['x2']} - {b['x1']}) * ({b['y2']} - {b['y1']}))"
                    f" AS area{i}")
    return cols


def _nms_sup_cols() -> list[str]:
    """Stage 2: s01..s23 strict-overlap bits over the area columns."""
    cols = []
    boxes = [_nms_box(i) for i in range(4)]
    for i in range(4):
        for j in range(i + 1, 4):
            a, b = boxes[i], boxes[j]
            iw = (f"GREATEST(0, LEAST({a['x2']}, {b['x2']}) "
                  f"- GREATEST({a['x1']}, {b['x1']}))")
            ih = (f"GREATEST(0, LEAST({a['y2']}, {b['y2']}) "
                  f"- GREATEST({a['y1']}, {b['y1']}))")
            inter = f"({iw} * {ih})"
            union = f"(area{i} + area{j} - {inter})"
            cols.append(f"CAST(2 * {inter} > {union} AS INT) AS s{i}{j}")
    return cols


# keeps unroll best-first, each stage referencing only PRIOR columns
_NMS_K1 = "1 - s01 AS k1"
_NMS_K2 = "CAST(s02 = 0 AND NOT (k1 = 1 AND s12 = 1) AS INT) AS k2"
_NMS_K3 = ("CAST(s03 = 0 AND NOT (k1 = 1 AND s13 = 1) "
           "AND NOT (k2 = 1 AND s23 = 1) AS INT) AS k3")

_NMS_OUT = (
    "CAST(COUNT(*) AS BIGINT) AS n_images",
    "CAST(SUM(1 + k1 + k2 + k3) AS BIGINT) AS n_kept",
    "CAST(SUM(area0 + k1 * area1 + k2 * area2 + k3 * area3) "
    "AS BIGINT) AS kept_area",
    "CAST(SUM(1 + k1 * 2 + k2 * 4 + k3 * 8) AS BIGINT) AS mask_sum",
    "CAST(SUM(CAST(1 + k1 + k2 + k3 = 4 AS INT)) AS BIGINT) AS n_all4",
    "CAST(SUM(CAST(1 + k1 + k2 + k3 = 1 AS INT)) AS BIGINT) AS n_only1",
)

_NMS_CARRY = ["cohort", "area0", "area1", "area2", "area3",
              "s02", "s03", "s12", "s13", "s23"]


def q_nms_boxes(spark, sf_dir):
    ids = spark.range(NMS_N).selectExpr("id AS image_id",
                                        "id % 4 AS cohort")
    areas = ids.selectExpr("image_id", "cohort", *_nms_area_cols())
    sup = areas.selectExpr("image_id", "cohort", "area0", "area1",
                           "area2", "area3", *_nms_sup_cols())
    g1 = sup.selectExpr(*_NMS_CARRY, _NMS_K1)
    g2 = g1.selectExpr(*_NMS_CARRY, "k1", _NMS_K2)
    g3 = g2.selectExpr(*_NMS_CARRY, "k1", "k2", _NMS_K3)
    return (g3.groupBy("cohort")
            .agg(*[F.expr(e.rsplit(" AS ", 1)[0])
                   .alias(e.rsplit(" AS ", 1)[1]) for e in _NMS_OUT])
            .selectExpr("CAST(cohort AS BIGINT) AS cohort", "n_images",
                        "n_kept", "kept_area", "mask_sum", "n_all4",
                        "n_only1"))


def _oracle_nms() -> str:
    carry = ", ".join(_NMS_CARRY)
    return f"""
WITH ids AS (
  SELECT i AS image_id, i % 4 AS cohort
  FROM generate_series(0, {NMS_N - 1}) AS g(i)),
areas AS (
  SELECT image_id, cohort, {", ".join(_nms_area_cols())} FROM ids),
sup AS (
  SELECT image_id, cohort, area0, area1, area2, area3,
         {", ".join(_nms_sup_cols())}
  FROM areas),
g1 AS (SELECT {carry}, {_NMS_K1} FROM sup),
g2 AS (SELECT {carry}, k1, {_NMS_K2} FROM g1),
g3 AS (SELECT {carry}, k1, k2, {_NMS_K3} FROM g2)
SELECT CAST(cohort AS BIGINT) AS cohort, {", ".join(_NMS_OUT)}
FROM g3 GROUP BY cohort
"""


QUERIES.update({
    "nms_boxes": (q_nms_boxes, _oracle_nms()),
})


# --- tile_render_png: render density tiles through the REAL PNG codec -------------
#
# The web-map tile-server primitive, and the first gated row where the
# engine CREATES images from data (every other image row decodes
# formula-synthesized inputs): events rasterize to 32×32 map tiles of
# 16×16 pixels (level-9 sub-cell counts, clipped at 255), each tile is
# PNG-encoded and re-decoded through the real zlib codec, and the gated
# stats are computed from the DECODED pixels — so the row simultaneously
# gates the grid math, the render mapping, and the png roundtrip
# identity on data-driven content.  Scale shape: ONE corpus shuffle (the
# sub-cell count groupBy, map-side combinable); the render applyInPandas
# touches only the lattice-bounded count table (≤512² rows at any corpus
# size).  The oracle replays counts + clip + checksum in SQL — it never
# runs a codec, so hash equality proves decode(encode(x)) == x on every
# rendered tile.

TR_FINE = 9     # 512×512 sub-cells → 32×32 tiles of 16×16 px
TR_TILE = 16


def q_tile_render_png(spark, sf_dir):
    import numpy as np
    from pyspark.sql import types as T
    from . import codecs

    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, TR_FINE)
    counts = (spark.read.parquet(f"{sf_dir}/events.parquet")
              .selectExpr(f"{ix} AS fx", f"{iy} AS fy")
              .selectExpr("CAST(FLOOR(fx / 16.0) AS BIGINT) AS tx",
                          "CAST(FLOOR(fy / 16.0) AS BIGINT) AS ty",
                          "fx % 16 AS px", "fy % 16 AS py")
              .groupBy("tx", "ty", "py", "px")
              .agg(F.count(F.lit(1)).alias("c")))

    schema = T.StructType([
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("n_ink", T.LongType()),
        T.StructField("ink_sum", T.LongType()),
        T.StructField("checksum", T.LongType()),
    ])

    def render(key, pdf):
        img = np.zeros((TR_TILE, TR_TILE, 3), np.uint8)
        v = np.minimum(pdf["c"].to_numpy(np.int64), 255)
        img[pdf["py"].to_numpy(int), pdf["px"].to_numpy(int), :] = \
            v[:, None]
        dec = codecs.decode(codecs.encode(img, "png"),
                            TR_TILE, TR_TILE, "png").astype(np.int64)
        assert (dec == img).all()  # loud if the roundtrip ever drifts
        g = dec[:, :, 0]
        w = (np.arange(TR_TILE, dtype=np.int64)[:, None] * TR_TILE
             + np.arange(TR_TILE, dtype=np.int64)[None, :] + 1)
        return pd.DataFrame(
            [[int(key[0]), int(key[1]), int((g > 0).sum()),
              int(g.sum()), int((g * w).sum())]],
            columns=[f.name for f in schema])

    return counts.groupBy("tx", "ty").applyInPandas(render, schema)


def _oracle_tile_render() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, TR_FINE)
    return f"""
WITH e AS (
  SELECT {ix} AS fx, {iy} AS fy FROM events),
cnt AS (
  SELECT CAST(FLOOR(fx / 16.0) AS BIGINT) AS tx,
         CAST(FLOOR(fy / 16.0) AS BIGINT) AS ty,
         fx % 16 AS px, fy % 16 AS py, COUNT(*) AS c
  FROM e GROUP BY 1, 2, 3, 4),
pix AS (
  SELECT tx, ty, py, px, LEAST(c, 255) AS v FROM cnt)
SELECT tx, ty,
       CAST(COUNT(*) AS BIGINT) AS n_ink,
       CAST(SUM(v) AS BIGINT) AS ink_sum,
       CAST(SUM(v * (py * 16 + px + 1)) AS BIGINT) AS checksum
FROM pix GROUP BY tx, ty
"""


QUERIES.update({
    "tile_render_png": (q_tile_render_png, _oracle_tile_render()),
})


# --- image_pyramid_stats: mipmap block-sum pyramid -------------------------
#
# Engine: one reshape-sum per (shape, level) decode stack
# (multimodal.pyramid_checksums).  Oracle: GROUP BY (y // 2^L, x // 2^L)
# over the pixel-formula replay.  Sums, not means, keep every statistic
# exact int64; the position-weighted checksum catches a transposed
# reshape or swapped level.  New family: multi-resolution pyramid (the
# tile-server / training-ladder precompute) — distinct from resize (NN)
# and bilinear (fixed-point interpolation).


def q_image_pyramid(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.pyramid_checksums(img))
    return (d.groupBy("fmt2", "level")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_cells").alias("n_cells"),
                 F.max("max_cell").alias("max_cell"),
                 F.expr("SUM(checksum * (i + 13))").alias("checksum"))
            .selectExpr("fmt2 AS fmt", "CAST(level AS INT) AS level",
                        "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_cells AS BIGINT) AS n_cells",
                        "CAST(max_cell AS BIGINT) AS max_cell",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_pyramid() -> str:
    v = _pix_sql("i * 1000003 + ay.y * 4096 + ax.x * 4 + cc.c")
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
px AS MATERIALIZED (
  SELECT i, fmt, w, ay.y AS y, ax.x AS x, cc.c AS c, {v} AS v
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) ay,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) ax,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc),
cells AS (
  SELECT i, fmt, lv.l AS level, w // (1 << lv.l) AS wl,
         y // (1 << lv.l) AS cy, x // (1 << lv.l) AS cx, c,
         SUM(v) AS s
  FROM px, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, 3)) AS l) lv
  GROUP BY 1, 2, 3, 4, 5, 6, 7),
per AS (
  SELECT i, fmt, level, COUNT(*) AS n_cells, MAX(s) AS max_cell,
         SUM(s * ((cy * wl + cx) * 3 + c + 1)) AS checksum
  FROM cells GROUP BY 1, 2, 3)
SELECT fmt, CAST(level AS INT) AS level,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_cells) AS BIGINT) AS n_cells,
       CAST(MAX(max_cell) AS BIGINT) AS max_cell,
       CAST(SUM(checksum * (i + 13)) AS BIGINT) AS checksum
FROM per GROUP BY 1, 2
"""


# --- image_wht_satd: 8x8 Walsh-Hadamard block transform --------------------
#
# The SATD core of H.264/HEVC/AV1 mode decision, exact by construction
# (+-1 butterflies).  Natural-order H[u,y] = (-1)^popcount(u AND y) lets
# the oracle replay the 2-D transform with bit_count() in pure SQL — a
# genuinely different evaluation (4096 scalar terms per block) from the
# engine's einsum, so agreement pins the butterfly, the block tiling,
# and the |.| reduction.


def q_image_wht(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.wht_checksums(img))
    return (d.groupBy("fmt2")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_blocks").alias("n_blocks"),
                 F.sum("dc_sum").alias("dc_sum"),
                 F.sum("satd").alias("satd"),
                 F.expr("SUM(checksum * (i + 13))").alias("checksum"))
            .selectExpr("fmt2 AS fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_blocks AS BIGINT) AS n_blocks",
                        "CAST(dc_sum AS BIGINT) AS dc_sum",
                        "CAST(satd AS BIGINT) AS satd",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_wht() -> str:
    v = _pix_sql("i * 1000003 + ay.y * 4096 + ax.x * 4 + 1")
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
px AS MATERIALIZED (
  SELECT i, fmt, w, ay.y AS y, ax.x AS x, {v} AS v
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) ay,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) ax),
coef AS (
  SELECT i, fmt, y // 8 AS by, x // 8 AS bx, w // 8 AS wb,
         uu.u AS u, vv.vq AS vq,
         SUM(v * (CASE WHEN (bit_count(uu.u & (y % 8))
                           + bit_count(vv.vq & (x % 8))) % 2 = 0
                  THEN 1 ELSE -1 END)) AS cf
  FROM px,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS u) uu,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS vq) vv
  GROUP BY 1, 2, 3, 4, 5, 6, 7),
per AS (
  SELECT i, fmt, COUNT(DISTINCT by * 1000 + bx) AS n_blocks,
         SUM(CASE WHEN u = 0 AND vq = 0 THEN cf ELSE 0 END) AS dc_sum,
         SUM(ABS(cf)) AS satd,
         SUM(ABS(cf) * ((by * wb + bx) * 64 + u * 8 + vq + 1)) AS checksum
  FROM coef GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_blocks) AS BIGINT) AS n_blocks,
       CAST(SUM(dc_sum) AS BIGINT) AS dc_sum,
       CAST(SUM(satd) AS BIGINT) AS satd,
       CAST(SUM(checksum * (i + 13)) AS BIGINT) AS checksum
FROM per GROUP BY 1
"""


# --- image_white_balance: gray-world gains, all-integer --------------------
#
# ISP color-cast correction: gain_c = (total * 1024) // (3 * mass_c),
# balanced v' = min((v * gain_c) // 1024, 255).  Both divisions are
# integer floor on non-negative operands, so numpy // and SQL // agree
# bit-for-bit and the balanced raster itself is gated (via the weighted
# checksum), not just its moments.


def q_image_whitebalance(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.whitebalance_checksums(img))
    return (d.groupBy("fmt2")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("r_gain").alias("r_gain"),
                 F.sum("g_gain").alias("g_gain"),
                 F.sum("b_gain").alias("b_gain"),
                 F.sum("n_clipped").alias("n_clipped"),
                 F.expr("SUM(checksum * (i + 13))").alias("checksum"))
            .selectExpr("fmt2 AS fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(r_gain AS BIGINT) AS r_gain",
                        "CAST(g_gain AS BIGINT) AS g_gain",
                        "CAST(b_gain AS BIGINT) AS b_gain",
                        "CAST(n_clipped AS BIGINT) AS n_clipped",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_whitebalance() -> str:
    v = _pix_sql("i * 1000003 + ay.y * 4096 + ax.x * 4 + cc.c")
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
px AS MATERIALIZED (
  SELECT i, fmt, w, ay.y AS y, ax.x AS x, cc.c AS c, {v} AS v
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) ay,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) ax,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc),
sums AS (
  SELECT i, fmt, c, GREATEST(SUM(v), 1) AS cs FROM px GROUP BY 1, 2, 3),
gains AS (
  SELECT i, fmt, c,
         (SUM(cs) OVER (PARTITION BY i) * 1024) // (3 * cs) AS gain
  FROM sums),
bal AS (
  SELECT p.i, p.fmt, p.w, p.y, p.x, p.c,
         (p.v * g.gain) // 1024 AS scaled,
         LEAST((p.v * g.gain) // 1024, 255) AS b
  FROM px p JOIN gains g ON p.i = g.i AND p.c = g.c),
per AS (
  SELECT i, fmt,
         SUM(CASE WHEN scaled > 255 THEN 1 ELSE 0 END) AS n_clipped,
         SUM(b * ((y * w + x) * 3 + c + 1)) AS checksum
  FROM bal GROUP BY 1, 2),
gn AS (
  SELECT i, fmt,
         SUM(CASE WHEN c = 0 THEN gain ELSE 0 END) AS r_gain,
         SUM(CASE WHEN c = 1 THEN gain ELSE 0 END) AS g_gain,
         SUM(CASE WHEN c = 2 THEN gain ELSE 0 END) AS b_gain
  FROM gains GROUP BY 1, 2)
SELECT p.fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(g.r_gain) AS BIGINT) AS r_gain,
       CAST(SUM(g.g_gain) AS BIGINT) AS g_gain,
       CAST(SUM(g.b_gain) AS BIGINT) AS b_gain,
       CAST(SUM(p.n_clipped) AS BIGINT) AS n_clipped,
       CAST(SUM(p.checksum * (p.i + 13)) AS BIGINT) AS checksum
FROM per p JOIN gn g ON p.i = g.i GROUP BY 1
"""


QUERIES.update({
    "image_pyramid_stats": (q_image_pyramid, _oracle_pyramid()),
    "image_wht_satd": (q_image_wht, _oracle_wht()),
    "image_white_balance": (q_image_whitebalance, _oracle_whitebalance()),
})


# --- image_bayer_demosaic: RGGB mosaic + bilinear reconstruction -----------
#
# The ISP sensor pipeline: sample the decoded raster onto an RGGB CFA,
# reconstruct with the bilinear kernel at 4x integer scale (the site
# count 1/2/4 always divides the scaled neighbor sum, so reconstruction
# is exact), and gate BOTH the reconstructed raster (position-weighted
# checksum) and its |rec - truth| demosaic error.  The oracle replays
# mosaic sampling and the 3x3 site-weighted average relationally: per
# (pixel, channel) a 9-term lateral over (dy, dx) with
# 4 * SUM(hit * mosaic) // SUM(hit).


def q_image_demosaic(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.demosaic_checksums(img))
    return (d.groupBy("fmt2")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_px").alias("n_px"),
                 F.sum("sad").alias("sad"),
                 F.expr("SUM(checksum * (i + 13))").alias("checksum"))
            .selectExpr("fmt2 AS fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_px AS BIGINT) AS n_px",
                        "CAST(sad AS BIGINT) AS sad",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_demosaic() -> str:
    # mosaic value at (y, x): the pixel formula evaluated at the CFA
    # channel of that site; truth at (y, x, c): the formula at channel c.
    cfa = "(CASE WHEN yv % 2 = 0 AND xv % 2 = 0 THEN 0 " \
          "WHEN yv % 2 = 1 AND xv % 2 = 1 THEN 2 ELSE 1 END)"
    mos_v = _pix_sql("i * 1000003 + yv * 4096 + xv * 4 + " + cfa)
    truth_v = _pix_sql("i * 1000003 + ay.y * 4096 + ax.x * 4 + cc.c")
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
mos AS MATERIALIZED (
  SELECT i, fmt, ay.yv AS y, ax.xv AS x,
         {cfa.replace('yv', 'ay.yv').replace('xv', 'ax.xv')} AS mc,
         {mos_v.replace('yv', 'ay.yv').replace('xv', 'ax.xv')} AS mv
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS yv) ay,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS xv) ax),
rec AS (
  SELECT g.i, g.fmt, g.w, ay.y, ax.x, cc.c,
         (4 * SUM(CASE WHEN m.mc = cc.c THEN m.mv ELSE 0 END))
           // SUM(CASE WHEN m.mc = cc.c THEN 1 ELSE 0 END) AS rec4
  FROM imgs g,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(1, g.h - 2)) AS y) ay,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(1, g.w - 2)) AS x) ax,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(-1, 1)) AS dy) dy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(-1, 1)) AS dx) dx
  JOIN mos m ON m.i = g.i AND m.y = ay.y + dy.dy AND m.x = ax.x + dx.dx
  GROUP BY 1, 2, 3, 4, 5, 6),
per AS (
  SELECT r.i, r.fmt, COUNT(*) AS n_px,
         SUM(ABS(r.rec4 - 4 * ({truth_v}))) AS sad,
         SUM(r.rec4 * ((r.y * r.w + r.x) * 3 + r.c + 1)) AS checksum
  FROM rec r,
  LATERAL (SELECT r.y AS y) ay, LATERAL (SELECT r.x AS x) ax,
  LATERAL (SELECT r.c AS c) cc
  GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_px) AS BIGINT) AS n_px,
       CAST(SUM(sad) AS BIGINT) AS sad,
       CAST(SUM(checksum * (i + 13)) AS BIGINT) AS checksum
FROM per GROUP BY 1
"""


QUERIES.update({
    "image_bayer_demosaic": (q_image_demosaic, _oracle_demosaic()),
})


# --- image_brief_descriptor: binary intensity-comparison descriptors -------
#
# The BRIEF keypoint-descriptor family (the binary-feature stage of a
# matching/registration pipeline, and the third member of the perceptual
# cascade next to aHash/dHash/pHash): K fixed luma-comparison pairs per
# image — the sampling pattern is a deterministic function of the pair
# index and the image dims, shared by every image of a shape, exactly as
# BRIEF prescribes — packed into a K-bit descriptor.  Gated: per-format
# popcount totals plus position-weighted descriptor/popcount checksums
# (a flipped bit order, swapped endpoint, or wrong luma weighting all
# shift the checksum).  The oracle replays all 6·K pixel-formula
# evaluations per image relationally.


def q_image_brief(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.brief_checksums(img))
    return (d.groupBy("fmt2")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("pop").alias("pop_total"),
                 F.expr("SUM(pop * (i + 7))").alias("pop_checksum"),
                 F.expr("SUM(desc * (i + 11))").alias("desc_checksum"))
            .selectExpr("fmt2 AS fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(pop_total AS BIGINT) AS pop_total",
                        "CAST(pop_checksum AS BIGINT) AS pop_checksum",
                        "CAST(desc_checksum AS BIGINT) AS desc_checksum"))


def _oracle_brief() -> str:
    from .multimodal import BRIEF_K

    def luma(y: str, x: str) -> str:
        terms = []
        for c, wgt in ((0, 2), (1, 5), (2, 1)):
            p = _pix_sql(f"i * 1000003 + ({y}) * 4096 + ({x}) * 4 + {c}")
            terms.append(f"{wgt} * ({p})")
        return " + ".join(terms)

    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
pairs AS MATERIALIZED (
  SELECT i, fmt, jj.j,
         (jj.j * 7919) % w AS x1, (jj.j * 104729) % h AS y1,
         (jj.j * 1299709 + 17) % w AS x2,
         (jj.j * 15485863 + 29) % h AS y2
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, {BRIEF_K - 1})) AS j) jj),
bits AS (
  SELECT i, fmt, j,
         CASE WHEN ({luma('y1', 'x1')}) > ({luma('y2', 'x2')})
              THEN 1 ELSE 0 END AS b
  FROM pairs),
per AS (
  SELECT i, fmt, SUM(b) AS pop,
         SUM(b * (CAST(1 AS BIGINT) << j)) AS d
  FROM bits GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(pop) AS BIGINT) AS pop_total,
       CAST(SUM(pop * (i + 7)) AS BIGINT) AS pop_checksum,
       CAST(SUM(d * (i + 11)) AS BIGINT) AS desc_checksum
FROM per GROUP BY 1
"""


QUERIES.update({
    "image_brief_descriptor": (q_image_brief, _oracle_brief()),
})


# --- image_shear_warp: affine NN warp checksum -----------------------------
#
# The affine-transform member of the augmentation family (flip/rot90/
# crop/resize live in image_augment_checksums; this adds a non-axis-
# aligned map): out(y,x) = in(y, x - y//4) with zero fill outside —
# exact integer coordinates so the warp gates bit-for-bit.  The oracle
# evaluates the pixel formula at the sheared source coordinate under
# the same bounds CASE.


def q_image_shear(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.shear_checksums(img))
    return (d.groupBy("fmt2")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_px").alias("n_px"),
                 F.sum("mass").alias("mass"),
                 F.expr("SUM(checksum * (i + 13))").alias("checksum"))
            .selectExpr("fmt2 AS fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_px AS BIGINT) AS n_px",
                        "CAST(mass AS BIGINT) AS mass",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_shear() -> str:
    src = _pix_sql("i * 1000003 + ay.y * 4096 + (ax.x - (ay.y // 4)) * 4 "
                   "+ cc.c")
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
px AS (
  SELECT i, fmt, w, ay.y, ax.x, cc.c,
         CASE WHEN ax.x - (ay.y // 4) >= 0 AND ax.x - (ay.y // 4) < w
              THEN {src} ELSE 0 END AS v
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) ay,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) ax,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc),
per AS (
  SELECT i, fmt, COUNT(*) AS n_px, SUM(v) AS mass,
         SUM(v * ((y * w + x) * 3 + c + 1)) AS checksum
  FROM px
  GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_px) AS BIGINT) AS n_px,
       CAST(SUM(mass) AS BIGINT) AS mass,
       CAST(SUM(checksum * (i + 13)) AS BIGINT) AS checksum
FROM per GROUP BY 1
"""


QUERIES.update({
    "image_shear_warp": (q_image_shear, _oracle_shear()),
})


# --- image_haar_dwt: one-level 2-D Haar wavelet band energies --------------
#
# The DWT member of the transform family (WHT/SATD covers the global
# Hadamard transform, image_pyramid_stats the LL-only mipmap chain;
# Haar adds the LH/HL/HH detail bands every wavelet codec and denoiser
# builds on).  Per 2x2 block the four integer Haar coefficients; gated:
# per-band energies + an LL position-weighted checksum.  The oracle
# recomputes all four coefficients per block from the pixel formula.


def q_image_haar(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.haar_band_energies(img))
    aggs = [F.sum(c).alias(c) for c in
            ("n_blocks", "e_ll", "e_lh", "e_hl", "e_hh")]
    return (d.groupBy("fmt2")
            .agg(F.count(F.lit(1)).alias("n_images"), *aggs,
                 F.expr("SUM(ll_checksum * (i + 13))").alias("checksum"))
            .selectExpr("fmt2 AS fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_blocks AS BIGINT) AS n_blocks",
                        "CAST(e_ll AS BIGINT) AS e_ll",
                        "CAST(e_lh AS BIGINT) AS e_lh",
                        "CAST(e_hl AS BIGINT) AS e_hl",
                        "CAST(e_hh AS BIGINT) AS e_hh",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_haar() -> str:
    def pix(dy: int, dx: int) -> str:
        return _pix_sql(f"i * 1000003 + (by.y * 2 + {dy}) * 4096 "
                        f"+ (bx.x * 2 + {dx}) * 4 + cc.c")

    a, b, c, d = pix(0, 0), pix(0, 1), pix(1, 0), pix(1, 1)
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
coef AS (
  SELECT i, fmt, w, by.y, bx.x, cc.c,
         ({a}) + ({b}) + ({c}) + ({d}) AS ll,
         ({a}) - ({b}) + ({c}) - ({d}) AS lh,
         ({a}) + ({b}) - ({c}) - ({d}) AS hl,
         ({a}) - ({b}) - ({c}) + ({d}) AS hh
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h // 2 - 1)) AS y) by,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w // 2 - 1)) AS x) bx,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc),
per AS (
  SELECT i, fmt, COUNT(*) AS n_blocks,
         SUM(ll * ll) AS e_ll, SUM(lh * lh) AS e_lh,
         SUM(hl * hl) AS e_hl, SUM(hh * hh) AS e_hh,
         SUM(ll * ((y * (w // 2) + x) * 3 + c + 1)) AS ll_checksum
  FROM coef GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_blocks) AS BIGINT) AS n_blocks,
       CAST(SUM(e_ll) AS BIGINT) AS e_ll,
       CAST(SUM(e_lh) AS BIGINT) AS e_lh,
       CAST(SUM(e_hl) AS BIGINT) AS e_hl,
       CAST(SUM(e_hh) AS BIGINT) AS e_hh,
       CAST(SUM(ll_checksum * (i + 13)) AS BIGINT) AS checksum
FROM per GROUP BY 1
"""


QUERIES.update({
    "image_haar_dwt": (q_image_haar, _oracle_haar()),
})


# --- image_seam_carve: content-aware-resize seam DP over real decode --------
#
# The Avidan-Shamir seam-carving table — the image-domain member of the
# staged-DP family (trajectory_alignment's DTW, rouge_lcs_pairs' LCS):
# M[r,j] = E[r,j] + min(M[r-1,j-1..j+1]) over the top SEAM_ROWS rows of
# channel 0, E = clamped central x-gradient.  Engine: one vectorized
# (images x columns) DP per decode stack (multimodal.seam_carve_costs).
# Oracle: SEAM_ROWS chained MATERIALIZED CTEs, each one LAG/LEAD window
# pass over the (image, column) table with energies replayed from the
# pixel formula.  All-integer outputs; argmin packed m*256+j (w < 256)
# so the smallest-column tiebreak is engine-independent.


def q_image_seam_carve(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.seam_carve_costs(img))
    return d.selectExpr(
        "i", "fmt2 AS fmt", "CAST(w2 AS INT) AS w",
        "CAST(seam_cost AS BIGINT) AS seam_cost",
        "CAST(end_col AS BIGINT) AS end_col",
        "CAST(dp_checksum AS BIGINT) AS dp_checksum")


def _oracle_seam_carve() -> str:
    from .multimodal import SEAM_ROWS

    def pix(r: int, jexpr: str) -> str:
        return _pix_sql(f"i * 1000003 + {r} * 4096 + ({jexpr}) * 4 + 0")

    def energy(r: int) -> str:
        return (f"ABS(({pix(r, 'LEAST(j + 1, w - 1)')}) - "
                f"({pix(r, 'GREATEST(j - 1, 0)')}))")

    stages = [f"""
m0 AS MATERIALIZED (
  SELECT i, fmt, w, j, {energy(0)} AS m FROM cols)"""]
    for r in range(1, SEAM_ROWS):
        stages.append(f"""
m{r} AS MATERIALIZED (
  SELECT i, fmt, w, j,
         {energy(r)}
         + LEAST(COALESCE(LAG(m) OVER win, 1000000000), m,
                 COALESCE(LEAD(m) OVER win, 1000000000)) AS m
  FROM m{r - 1} WINDOW win AS (PARTITION BY i ORDER BY j))""")
    last = f"m{SEAM_ROWS - 1}"
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
cols AS MATERIALIZED (
  SELECT i, fmt, w, cj.j FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS j) cj),
{','.join(stages)}
SELECT i, fmt, CAST(w AS INT) AS w,
       CAST(MIN(m * 256 + j) // 256 AS BIGINT) AS seam_cost,
       CAST(MIN(m * 256 + j) % 256 AS BIGINT) AS end_col,
       CAST(SUM(m * (j + 1)) AS BIGINT) AS dp_checksum
FROM {last} GROUP BY 1, 2, 3
"""


QUERIES.update({
    "image_seam_carve": (q_image_seam_carve, _oracle_seam_carve()),
})


# --- crossmodal_recall: image<->caption retrieval eval ------------------------
#
# The cross-modal retrieval benchmark shape (CLIP-style recall@k) over
# the input-hint image+caption pairs: each image's 63-bit dHash code
# (real decode, multimodal.dhash_codes) retrieves against "caption
# codes" — the paired code corrupted by a deterministic <=2-bit mask —
# ranked by Hamming distance with a total-order tiebreak, candidates
# BUCKETED by the level-2 cell of the image footprint (the
# scale-defining move: retrieval is bucket-local, never all-pairs).
# Gated per fmt: n, recall@1, recall@5, and the sum of min Hamming
# distances.  Bit plumbing is dialect-split (Spark ^, DuckDB xor();
# bit_count in both); codes use bits 0..62 so every packed value stays
# int64-arithmetic-safe.

CM_N = 96


def _pow2case(expr: str) -> str:
    return ("CASE " + expr + " "
            + " ".join(f"WHEN {k} THEN {1 << k}" for k in range(63))
            + " ELSE 0 END")


def _cm_mask(j: str) -> str:
    # <=2 flipped bits normally; every 5th caption gets a ~31-bit
    # scramble (a near-random caption) so recall@1 is NOT trivially
    # perfect — the planted-structure rule: a gate column must be able
    # to fail
    m1 = f"(({mix_sql(f'({j}) * 5 + 9')}) % 63)"
    m2 = f"(({mix_sql(f'({j}) * 5 + 10')}) % 63)"
    wide = (f"(({mix_sql(f'({j}) * 5 + 11')}) * 2147483648 "
            f"+ ({mix_sql(f'({j}) * 5 + 12')}) % 2147483648)")
    return (f"(({_pow2case(m1)} | {_pow2case(m2)}) "
            f"| (CASE WHEN ({j}) % 5 = 0 THEN {wide} ELSE 0 END))")


_CM_OUT = """
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS recall1,
       CAST(SUM(CASE WHEN rnk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS recall5,
       CAST(SUM(min_ham) AS BIGINT) AS sum_min_hamming
FROM ranked GROUP BY fmt
"""


def q_crossmodal_recall(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, CM_N, partitions=4)
    d = (multimodal.dhash_codes(img)
         .join(img.select("image_id", "lon", "lat"), "image_id")
         .selectExpr("CAST(substr(image_id, 4) AS BIGINT) AS i", "code",
                     f"{cells.cell_sql('lon', 'lat', 2)} AS bucket")
         .localCheckpoint())
    cap = (d.selectExpr("i AS j", "code AS jcode", "bucket")
           .selectExpr("j", "bucket",
                       f"jcode ^ {_cm_mask('j')} AS ccode"))
    pairs = (d.join(cap, "bucket")
             .selectExpr("i", "j",
                         "bit_count(code ^ ccode) * 1024 + j AS packed"))
    pt = pairs.where("j = i").selectExpr("i AS i2", "packed AS pt")
    ranked = (pairs.join(pt, pairs.i == pt.i2)
              .groupBy("i")
              .agg(F.expr("1 + SUM(CASE WHEN packed < pt THEN 1 ELSE 0 "
                          "END)").alias("rnk"),
                   F.expr("MIN(packed) DIV 1024").alias("min_ham"))
              .selectExpr("rnk", "min_ham",
                          "CASE (i % 3) WHEN 0 THEN 'raw' WHEN 1 THEN "
                          "'png' ELSE 'qb' END AS fmt"))
    ranked.createOrReplaceTempView("ranked")
    return spark.sql(_CM_OUT)


def _oracle_crossmodal() -> str:
    m = fixtures.images_meta_sql("i")
    pix = _pix_sql("i * 1000003 + (y * (h DIV 8) + py) * 4096 "
                   "+ (x * (w DIV 8) + px) * 4 + 1") \
        .replace(" DIV ", " // ")
    return f"""
WITH imgs AS MATERIALIZED (
  SELECT i, {m['w']} AS w, {m['h']} AS h, {m['fmt']} AS fmt,
         {m['lon']} AS lon, {m['lat']} AS lat
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {CM_N - 1})) AS i) t),
sgrid AS MATERIALIZED (
  SELECT i, by.y, bx.x, SUM({pix}) AS s
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS y) by,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS x) bx,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h // 8 - 1)) AS py) pp,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w // 8 - 1)) AS px) qq
  GROUP BY 1, 2, 3),
codes AS MATERIALIZED (
  SELECT a.i,
         CAST(SUM(CASE WHEN a.s > b.s AND a.y * 8 + a.x < 63
                  THEN {_pow2case('a.y * 8 + a.x')} ELSE 0 END)
              AS BIGINT) AS code
  FROM sgrid a JOIN sgrid b
    ON b.i = a.i AND b.y = a.y AND b.x = (a.x + 1) % 8
  GROUP BY a.i),
d AS MATERIALIZED (
  SELECT codes.i, codes.code,
         {cells.cell_sql('imgs.lon', 'imgs.lat', 2)} AS bucket
  FROM codes JOIN imgs ON imgs.i = codes.i),
cap AS (
  SELECT i AS j, bucket, xor(code, {_cm_mask('i')}) AS ccode FROM d),
pairs AS MATERIALIZED (
  SELECT d.i, cap.j,
         bit_count(xor(d.code, cap.ccode)) * 1024 + cap.j AS packed
  FROM d JOIN cap ON cap.bucket = d.bucket),
pt AS (SELECT i, packed AS pt FROM pairs WHERE j = i),
ranked AS (
  SELECT pairs.i,
         1 + SUM(CASE WHEN packed < pt.pt THEN 1 ELSE 0 END) AS rnk,
         MIN(packed) // 1024 AS min_ham,
         CASE (pairs.i % 3) WHEN 0 THEN 'raw' WHEN 1 THEN 'png'
              ELSE 'qb' END AS fmt
  FROM pairs JOIN pt ON pt.i = pairs.i
  GROUP BY pairs.i)
{_CM_OUT}
"""


QUERIES.update({
    "crossmodal_recall": (q_crossmodal_recall, _oracle_crossmodal()),
})


# --- image_median_cut: Heckbert palette quantization --------------------------
#
# The classic color-quantization pass (GIF/PNG8 palette builders):
# 3 median-cut rounds over the real decode — each box splits on its
# widest channel (packed argmax, lowest-channel tiebreak) at the exact
# integer median value; v >= median goes right.  The median is the
# ((n+1)//2)-th smallest VALUE, picked relationally at ROW_NUMBER
# (ORDER BY value, pixel) = (n+1)//2 — well-defined under ties because
# the value at a rank is rank-determined.  Empty left children (median
# = min) make box ids sparse, and the oracle reproduces exactly that.
# Gated per (image, final box): pixel count + exact channel sums.


def q_image_median_cut(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.median_cut_boxes(img))
    return d.selectExpr(
        "i", "fmt2 AS fmt", "CAST(box AS BIGINT) AS box",
        "CAST(n_px AS BIGINT) AS n_px", "CAST(s0 AS BIGINT) AS s0",
        "CAST(s1 AS BIGINT) AS s1", "CAST(s2 AS BIGINT) AS s2")


def _oracle_median_cut() -> str:
    from .multimodal import MEDCUT_ROUNDS

    def pix(c: int) -> str:
        return _pix_sql(f"i * 1000003 + (p // w) * 4096 "
                        f"+ (p % w) * 4 + {c}")

    parts = [f"""
b0 AS MATERIALIZED (
  SELECT i, fmt, pp.p AS k, {pix(0)} AS v0, {pix(1)} AS v1,
         {pix(2)} AS v2, CAST(0 AS BIGINT) AS box
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w * h - 1)) AS p) pp)"""]
    for r in range(MEDCUT_ROUNDS):
        parts.append(f"""
st{r} AS MATERIALIZED (
  SELECT i, box,
         3 - GREATEST((MAX(v0) - MIN(v0)) * 4 + 3,
                      (MAX(v1) - MIN(v1)) * 4 + 2,
                      (MAX(v2) - MIN(v2)) * 4 + 1) % 4 AS wc,
         COUNT(*) AS n
  FROM b{r} GROUP BY 1, 2),
rk{r} AS MATERIALIZED (
  SELECT b.i, b.fmt, b.box, b.k, b.v0, b.v1, b.v2, st.n,
         CASE st.wc WHEN 0 THEN b.v0 WHEN 1 THEN b.v1 ELSE b.v2 END
           AS vw
  FROM b{r} b JOIN st{r} st ON st.i = b.i AND st.box = b.box),
md{r} AS MATERIALIZED (
  SELECT i, box, vw AS med FROM (
    SELECT i, box, vw, n,
           ROW_NUMBER() OVER (PARTITION BY i, box ORDER BY vw, k) AS rn
    FROM rk{r}) t WHERE rn = (n + 1) // 2),
b{r + 1} AS MATERIALIZED (
  SELECT rk.i, rk.fmt, rk.k, rk.v0, rk.v1, rk.v2,
         rk.box * 2 + CASE WHEN rk.vw >= md.med THEN 1 ELSE 0 END AS box
  FROM rk{r} rk JOIN md{r} md ON md.i = rk.i AND md.box = rk.box)""")
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),{','.join(parts)}
SELECT i, fmt, CAST(box AS BIGINT) AS box,
       CAST(COUNT(*) AS BIGINT) AS n_px, CAST(SUM(v0) AS BIGINT) AS s0,
       CAST(SUM(v1) AS BIGINT) AS s1, CAST(SUM(v2) AS BIGINT) AS s2
FROM b{MEDCUT_ROUNDS} GROUP BY 1, 2, 3
"""


QUERIES.update({
    "image_median_cut": (q_image_median_cut, _oracle_median_cut()),
})


# --- image_color_pca: dominant channel principal component --------------------
#
# Color PCA / decorrelation stretch (the 3-channel Karhunen-Loeve
# transform every false-color and whitening pass starts from): the 3x3
# channel covariance NUMERATOR matrix C_ij = n*s_ij - s_i*s_j is exact
# int64 from real-decode moments (multimodal.channel_moments), and the
# dominant eigenpair comes from a FIXED PCA_STEPS-step power iteration over
# literal float stages shared verbatim between engines (the Kalman /
# CRS fixed-unroll rule; inf-norm normalization, GREATEST guard for a
# zero vector).  Gated: the exact C entries, the eigenvector (x0,x1,x2
# under the start-sign convention), and the Rayleigh-quotient
# eigenvalue, ROUND(...,6).

PCA_STEPS = 16


def _pca_stage_sql() -> str:
    cols = "i, fmt, n, " + ", ".join(
        f"c{a}{b}" for a in range(3) for b in range(a, 3))
    c = {(a, b): f"CAST(c{min(a, b)}{max(a, b)} AS DOUBLE)"
         for a in range(3) for b in range(3)}
    stages = [f"it0 AS (SELECT {cols}, CAST(1 AS DOUBLE) AS x0, "
              "CAST(1 AS DOUBLE) AS x1, CAST(1 AS DOUBLE) AS x2 "
              "FROM cmat)"]
    for r in range(1, PCA_STEPS + 1):
        ys = [f"{c[(i, 0)]} * x0 + {c[(i, 1)]} * x1 + {c[(i, 2)]} * x2"
              for i in range(3)]
        stages.append(
            f"y{r} AS (SELECT {cols}, " + ", ".join(
                f"({e}) AS y{i}" for i, e in enumerate(ys))
            + f", GREATEST(ABS({ys[0]}), ABS({ys[1]}), ABS({ys[2]}),"
              " CAST(1 AS DOUBLE)) AS m"
            + f" FROM it{r - 1})")
        stages.append(
            f"it{r} AS (SELECT {cols}, y0 / m AS x0, y1 / m AS x1, "
            f"y2 / m AS x2 FROM y{r})")
    num = (f"({c[(0, 0)]} * x0 * x0 + {c[(1, 1)]} * x1 * x1 "
           f"+ {c[(2, 2)]} * x2 * x2 + 2.0 * {c[(0, 1)]} * x0 * x1 "
           f"+ 2.0 * {c[(0, 2)]} * x0 * x2 "
           f"+ 2.0 * {c[(1, 2)]} * x1 * x2)")
    # eigenvalue reported at PER-PIXEL covariance scale (divide the
    # numerator-matrix Rayleigh quotient by n^2): ~1e3 magnitude, where
    # ROUND(...,6) sits far above accumulated ulp noise — at the raw
    # numerator scale (~5e10) six decimals are BELOW one double ulp and
    # the gate flipped on the last printed digit
    return (",".join(stages) + f"""
SELECT i, fmt, c00, c01, c02, c11, c12, c22,
       ROUND(x0, 6) AS v0, ROUND(x1, 6) AS v1, ROUND(x2, 6) AS v2,
       ROUND({num} / (x0 * x0 + x1 * x1 + x2 * x2)
             / (CAST(n AS DOUBLE) * n), 6) AS eig_px
FROM it{PCA_STEPS}
""").replace("SELECT i, fmt, c00", "\nSELECT i, fmt, c00")


_PCA_CMAT = """
  SELECT i, fmt, CAST(n AS BIGINT) AS n, {pairs}
  FROM moments
""".format(pairs=", ".join(
    f"CAST(CAST(n AS BIGINT) * s{a}{b} - CAST(s{a} AS BIGINT) * s{b}"
    f" AS BIGINT) AS c{a}{b}" for a in range(3) for b in range(a, 3)))


def q_image_color_pca(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    d = _with_i(multimodal.channel_moments(img))
    d.selectExpr("i", "fmt2 AS fmt", "n", "s0", "s1", "s2",
                 "s00", "s01", "s02", "s11", "s12", "s22") \
        .createOrReplaceTempView("moments")
    return spark.sql(f"WITH cmat AS ({_PCA_CMAT}),{_pca_stage_sql()}")


def _oracle_color_pca() -> str:
    def pix(c: int) -> str:
        return _pix_sql(f"i * 1000003 + (p // w) * 4096 "
                        f"+ (p % w) * 4 + {c}")

    sums = (["COUNT(*) AS n"]
            + [f"SUM(v{c}) AS s{c}" for c in range(3)]
            + [f"SUM(v{a} * v{b}) AS s{a}{b}"
               for a in range(3) for b in range(a, 3)])
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
px AS MATERIALIZED (
  SELECT i, fmt, {pix(0)} AS v0, {pix(1)} AS v1, {pix(2)} AS v2
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w * h - 1)) AS p) pp),
moments AS MATERIALIZED (
  SELECT i, fmt, {', '.join(sums)} FROM px GROUP BY 1, 2),
cmat AS ({_PCA_CMAT}),{_pca_stage_sql()}
"""


QUERIES.update({
    "image_color_pca": (q_image_color_pca, _oracle_color_pca()),
})


# --- image_histogram_match: CDF-based histogram matching ----------------------
#
# The histogram-TRANSFER pass (hist_equalize's two-image sibling —
# color grading, scanner normalization): images pair (2k, 2k+1) and
# channel 0 of image A maps onto B's tonal distribution via the
# textbook CDF rule m(v) = min{ w : cdfB(w) >= cdfA(v) }, with the
# CDF comparison CROSS-MULTIPLIED (cumB*nA >= cumA*nB) so different
# pixel counts never meet a float.  Gated per pair: the support size,
# a position-weighted mapping checksum, and the transformed-image sum
# — all exact int64.  The 256x256-per-pair theta join is
# pair-bounded, never corpus-bounded.

_HMATCH_TAIL = """
cdf AS (
  SELECT i, i {div} 2 AS pair, i % 2 AS side, v, cnt,
         SUM(cnt) OVER (PARTITION BY i ORDER BY v) AS cum,
         SUM(cnt) OVER (PARTITION BY i) AS npx
  FROM hist),
mapping AS (
  SELECT a.pair, a.v, a.cnt, MIN(b.v) AS mv
  FROM cdf a JOIN cdf b
    ON b.pair = a.pair AND b.side = 1 AND a.side = 0
   AND b.cum * a.npx >= a.cum * b.npx
  GROUP BY 1, 2, 3)
SELECT CAST(pair AS BIGINT) AS pair,
       CAST(COUNT(*) AS BIGINT) AS n_vals,
       CAST(SUM((v + 1) * mv) AS BIGINT) AS map_checksum,
       CAST(SUM(cnt * mv) AS BIGINT) AS transformed_sum
FROM mapping GROUP BY 1
"""


def q_image_histogram_match(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, VISION_N, partitions=4)
    h = _with_i(multimodal.channel0_hist(img))
    h.selectExpr("i", "v", "cnt").createOrReplaceTempView("hist")
    return spark.sql("WITH " + _HMATCH_TAIL.format(div="DIV"))


def _oracle_hmatch() -> str:
    pix = _pix_sql("i * 1000003 + (p // w) * 4096 + (p % w) * 4 + 0")
    return f"""
WITH imgs AS MATERIALIZED ({_imgs_cte(VISION_N)}),
hist AS MATERIALIZED (
  SELECT i, {pix} AS v, COUNT(*) AS cnt
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w * h - 1)) AS p) pp
  GROUP BY 1, 2),
{_HMATCH_TAIL.format(div='//')}
"""


QUERIES.update({
    "image_histogram_match": (q_image_histogram_match, _oracle_hmatch()),
})


# --- jpeg_decode_stats: baseline JPEG codec QA (B11, compressed half) --------
#
# The pure-numpy baseline JPEG codec (spark_shp/jpeg.py — ITU-T T.81
# baseline sequential, Annex K tables, VERDICT r3 item 6) under the gate:
# deterministic smooth test images encode → decode per mode (4:4:4 and
# 4:2:0, with and without restart markers) inside executor tasks, and the
# row asserts the input_hint per-row invariant — PSNR ≥ 40 dB for every
# lossy image, dims preserved, stream smaller than raw.  Lossy output
# can't be replayed value-for-value in SQL, so the oracle states the
# group invariants known BY CONSTRUCTION (the images_phash_verify VALUES
# pattern); bit-level decode properties (uniform-DC exactness, RST
# equivalence, Annex-K header fields) are pinned in tests/test_jpeg.py.

JPEG_QA_N = 24          # images per mode


def _jpeg_qa_pixels(i: int, w: int, h: int) -> "np.ndarray":
    """Smooth deterministic content (low-frequency sinusoid + gradient)
    — reproducible from (i, w, h) alone on any executor."""
    y, x = np.mgrid[0:h, 0:w].astype(np.float64)
    f1 = 5.0 + (i % 7)
    f2 = 6.0 + (i % 5)
    # luma-dominant (photographic-like): detail lives in L, chroma varies
    # on a much longer wavelength so 2×2 subsampling stays ≥ 40 dB
    lum = 128.0 + 80.0 * np.sin(x / f1 + i) * np.cos(y / f2)
    c1 = 22.0 * np.sin(x / 16.0 + i)
    c2 = 22.0 * np.cos(y / 14.0 - i)
    r = lum + c1
    g = lum - 0.5 * c1 - 0.5 * c2
    b = lum + c2
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0,
                   255).astype(np.uint8)


def q_jpeg_decode_stats(spark, sf_dir):
    from pyspark.sql import types as T
    modes = [("s444", False, 0), ("s420", True, 0),
             ("s444_rst", False, 3), ("s420_rst", True, 5)]
    rows = [(m, i) for m, _, _ in modes for i in range(JPEG_QA_N)]
    n_part = min(32, max(8, spark.sparkContext.defaultParallelism))
    src = spark.createDataFrame(rows, "mode string, i int") \
        .repartition(n_part)
    schema = T.StructType([
        T.StructField("mode", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("psnr_ge_40", T.IntegerType()),
        T.StructField("dims_ok", T.IntegerType()),
        T.StructField("smaller_than_raw", T.IntegerType()),
    ])
    mode_map = {m: (ss, rst) for m, ss, rst in modes}

    def work(batches):
        from . import jpeg
        for pdf in batches:
            # group rows by (mode, dims) → batch-encode the stacked
            # images and batch-decode the blobs through the cross-image
            # walker (bit-identical to the per-image codec paths)
            rows = [(str(m), int(i)) for m, i in zip(pdf["mode"],
                                                     pdf["i"])]
            groups: dict = {}
            for j, (m, i) in enumerate(rows):
                w, h = 40 + (i % 5) * 8, 32 + (i % 3) * 8
                groups.setdefault((m, w, h), []).append(j)
            out = [None] * len(rows)
            for (m, w, h), idx in groups.items():
                ss, rst = mode_map[m]
                px = np.stack([_jpeg_qa_pixels(rows[j][1], w, h)
                               for j in idx])
                blobs = jpeg.jpeg_encode_batch(px, quality=90,
                                               subsample=ss,
                                               restart_mcu=rst)
                dec = np.stack(jpeg.jpeg_decode_batch(blobs, min_batch=4))
                err = (px.astype(np.float64) - dec) ** 2
                mse = err.reshape(len(idx), -1).mean(axis=1)
                psnr = np.where(mse > 0,
                                10.0 * np.log10(255.0 ** 2
                                                / np.maximum(mse, 1e-12)),
                                np.inf)
                for jj, j in enumerate(idx):
                    out[j] = (m, rows[j][1],
                              int(psnr[jj] >= 40.0),
                              int(dec[jj].shape == (h, w, 3)),
                              int(len(blobs[jj]) < w * h * 3))
            yield pd.DataFrame(out, columns=[f.name for f in schema])

    qa = src.mapInPandas(work, schema)
    return (qa.groupBy("mode")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("psnr_ge_40").alias("all_psnr_ge_40"),
                 F.min("dims_ok").alias("all_dims_ok"),
                 F.min("smaller_than_raw").alias("all_compressed")))


ORACLE_JPEG_QA = f"""
SELECT * FROM (VALUES
  ('s444',     CAST({JPEG_QA_N} AS BIGINT), 1, 1, 1),
  ('s420',     CAST({JPEG_QA_N} AS BIGINT), 1, 1, 1),
  ('s444_rst', CAST({JPEG_QA_N} AS BIGINT), 1, 1, 1),
  ('s420_rst', CAST({JPEG_QA_N} AS BIGINT), 1, 1, 1)
) AS t(mode, n, all_psnr_ge_40, all_dims_ok, all_compressed)
"""


QUERIES.update({
    "jpeg_decode_stats": (q_jpeg_decode_stats, ORACLE_JPEG_QA),
})
