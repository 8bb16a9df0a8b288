"""Spatial-mining, curation & analytics operators (round-3 batches 7+):

geometry      — convex hulls, overlay candidate pairs, union-of-rectangles
                sweep, geometric median (fixed-iteration Weiszfeld),
                trajectory densify / simplify, BFS distance transform,
                quadkey interop
dedup/text    — banded Levenshtein verify, image phash dup clusters,
                corpus-LM bigram scoring, PMI phrase mining with greedy
                non-overlap merge counts
sketch/graph  — deterministic Bloom runtime filter, count-min heavy
                hitters, bounded k-core peel
time series   — exact-integer TWAP, interval-union coverage, lead-lag
                cross-correlation
multimodal    — per-tile image mosaic checksums over real decoded bytes

All oracle-gated exact (DuckDB twins); none is in the query registry
(spark_shp.registry holds only the paper's spatial path).  Reference parity: the upstream
shapefile-js surface is geometry ingest (SURVEY.md §2.A [RECONSTRUCTED]);
these extend the engine's §6 training-data-pipeline family the brief
requires on top of it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import (DataFrame, SparkSession, Window as W,
                         functions as F)

from . import cells, fixtures


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- convex_hull_groups: per-group convex hull via monotone chain --------------
#
# The scale trick is the REDUCTION, not the hull: per (group, ix) only the
# min-iy and max-iy points can lie on the hull boundary, so one map-side-
# combinable aggregate shrinks ANY corpus to <= 2 * 2**HULL_LEVEL points per
# group before the Arrow kernel runs.  The per-group kernel input is therefore
# corpus-size-independent — the property that lets this run over 10^12 rows
# (the groupBy agg is the only full-data pass; the hull itself touches <=128
# rows per group).  All coordinates are quantized lattice integers, so every
# output (doubled shoelace area, squared edge lengths, boundary checksum) is
# an exact int64 on both engines.

HULL_LEVEL = 6        # 64x64 lattice -> <= 128 reduced points per group
HULL_GROUPS = 8       # group key = user_id % HULL_GROUPS

_HULL_SCHEMA = ("g BIGINT, n_boundary BIGINT, n_cycle BIGINT, area2 BIGINT, "
                "sum_edge_sq BIGINT, checksum BIGINT")


def hull_cycle(pts):
    """CCW closed boundary cycle of the convex hull of distinct lattice
    points, KEEPING collinear boundary points (Andrew monotone chain with a
    strict pop test).  Returns the vertex list of the closed walk (last edge
    wraps to the first vertex); a single point returns [p] (zero edges).
    For an all-collinear set the walk runs down and back, visiting interior
    collinear points twice — exactly the set of directed boundary edges the
    brute-force half-plane oracle admits."""
    P = sorted(pts)
    if len(P) == 1:
        return P

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def chain(points):
        h = []
        for p in points:
            while len(h) >= 2 and cross(h[-2], h[-1], p) < 0:
                h.pop()
            h.append(p)
        return h

    lower = chain(P)
    upper = chain(P[::-1])
    return lower[:-1] + upper[:-1]


def hull_metrics(pts):
    """Exact integer hull metrics of a distinct lattice point set: boundary
    vertex count, directed-edge count, |doubled shoelace area|, sum of
    squared edge lengths, and a per-edge-start checksum (multiplicity-aware,
    so a degenerate down-and-back walk hashes differently from a one-way
    walk)."""
    cyc = hull_cycle(pts)
    m = len(cyc)
    if m == 1:
        x, y = cyc[0]
        return 1, 0, 0, 0, x * 131 + y
    area2 = 0
    edge_sq = 0
    chk = 0
    for i in range(m):
        ax, ay = cyc[i]
        bx, by = cyc[(i + 1) % m]
        area2 += ax * by - bx * ay
        edge_sq += (ax - bx) ** 2 + (ay - by) ** 2
        chk += ax * 131 + ay
    return len(set(cyc)), m, abs(area2), edge_sq, chk


def q_convex_hull_groups(spark, sf_dir):
    """Per-group convex hull of event point clouds (the footprint/coverage
    primitive: service areas, per-source spatial extent QA).  Plan: one
    map-side-combinable groupBy reduces the corpus to extreme lattice points
    (<= 2 per (group, x-column)), then an Arrow-grouped monotone-chain kernel
    emits exact integer hull metrics per group.  The oracle proves the SAME
    hull a genuinely different way: brute-force half-plane edge admission
    (edge a->b is on the CCW boundary iff no point lies strictly right of it
    and no collinear point splits it) — O(n^3) is affordable there precisely
    because the reduction bounds n by the lattice, not the corpus."""
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, HULL_LEVEL)
    e = _t(spark, sf_dir, "events").selectExpr(
        f"user_id % {HULL_GROUPS} AS g", f"{ix} AS ix", f"{iy} AS iy")
    red = e.groupBy("g", "ix").agg(F.min("iy").alias("y1"),
                                   F.max("iy").alias("y2"))
    pts = (red.selectExpr("g", "ix AS x", "explode(array(y1, y2)) AS y")
           .distinct())

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf["g"].iloc[0])
        p = list(zip(pdf["x"].astype(int), pdf["y"].astype(int)))
        nb, nc, a2, esq, chk = hull_metrics(sorted(set(p)))
        return pd.DataFrame([{"g": g, "n_boundary": nb, "n_cycle": nc,
                              "area2": a2, "sum_edge_sq": esq,
                              "checksum": chk}])

    return pts.groupBy("g").applyInPandas(kernel, _HULL_SCHEMA)


def _oracle_hull() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, HULL_LEVEL)
    cr = "((b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x))"
    return f"""
WITH e AS (
  SELECT user_id % {HULL_GROUPS} AS g, {ix} AS ix, {iy} AS iy FROM events),
red AS (SELECT g, ix, MIN(iy) AS y1, MAX(iy) AS y2 FROM e GROUP BY 1, 2),
pts AS (
  SELECT DISTINCT g, ix AS x, UNNEST([y1, y2]) AS y FROM red),
edges AS (
  SELECT a.g, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
  FROM pts a JOIN pts b ON a.g = b.g
  WHERE NOT (a.x = b.x AND a.y = b.y)
    AND NOT EXISTS (
      SELECT 1 FROM pts c
      WHERE c.g = a.g
        AND NOT (c.x = a.x AND c.y = a.y)
        AND NOT (c.x = b.x AND c.y = b.y)
        AND ({cr} < 0 OR ({cr} = 0
             AND c.x BETWEEN LEAST(a.x, b.x) AND GREATEST(a.x, b.x)
             AND c.y BETWEEN LEAST(a.y, b.y) AND GREATEST(a.y, b.y))))),
agg AS (
  SELECT g, COUNT(DISTINCT ax * 4096 + ay) AS n_boundary,
         COUNT(*) AS n_cycle,
         ABS(SUM(ax * by - bx * ay)) AS area2,
         SUM((ax - bx) * (ax - bx) + (ay - by) * (ay - by)) AS sum_edge_sq,
         SUM(ax * 131 + ay) AS checksum
  FROM edges GROUP BY 1),
base AS (SELECT g, COUNT(*) AS n_pts, MIN(x * 131 + y) AS solo
         FROM pts GROUP BY 1)
SELECT base.g,
       CAST(CASE WHEN base.n_pts = 1 THEN 1 ELSE agg.n_boundary END
            AS BIGINT) AS n_boundary,
       CAST(COALESCE(agg.n_cycle, 0) AS BIGINT) AS n_cycle,
       CAST(COALESCE(agg.area2, 0) AS BIGINT) AS area2,
       CAST(COALESCE(agg.sum_edge_sq, 0) AS BIGINT) AS sum_edge_sq,
       CAST(CASE WHEN base.n_pts = 1 THEN base.solo ELSE agg.checksum END
            AS BIGINT) AS checksum
FROM base LEFT JOIN agg ON base.g = agg.g
"""


# --- dedup_editdist: banded edit-distance near-duplicate verification ----------
#
# The curation step after candidate generation: exact Levenshtein on prefix
# windows over length-banded candidate pairs.  The 100 TB shape is in the
# JOIN KEY, not a post-join filter: the sampled probe side EXPLODES its
# length into the {n-1, n, n+1} band so the |Δchars| <= 1 constraint is an
# equi-join on (source, band_key) — no per-source pair blowup ever
# materializes.  Both engines run the same textbook DP (ASCII corpus; Spark
# `levenshtein` and DuckDB `levenshtein` agree — pinned by pytest).

ED_PREFIX = 200       # distance computed on the first ED_PREFIX chars
ED_SAMPLE_MOD = 3     # probe side = docs with doc_id % 3 == 0
ED_NEAR = 120         # "near" threshold on the prefix distance


def q_dedup_editdist(spark, sf_dir):
    """Edit-distance near-dup verify over length-banded candidates.  Probe
    docs (deterministic 1-in-3 sample) join archive docs on
    (source, n_chars band) via key explosion, then one vectorized JVM
    levenshtein per pair; per-source aggregate keeps the gate row count
    bounded.  At scale: equi-join shuffle on a composite key (no skew — the
    band splits each source), distance is JVM codegen, zero Python."""
    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "source", "n_chars",
        f"substr(text, 1, {ED_PREFIX}) AS t")
    probe = (d.where(f"doc_id % {ED_SAMPLE_MOD} = 0")
             .selectExpr("doc_id AS a_id", "source", "t AS a_t",
                         "explode(array(n_chars - 1, n_chars, n_chars + 1)) "
                         "AS k"))
    arch = d.selectExpr("doc_id AS b_id", "source", "t AS b_t",
                        "n_chars AS k")
    pairs = (probe.join(arch, ["source", "k"])
             .where("a_id < b_id")
             .selectExpr("source", "a_id", "b_id",
                         "levenshtein(a_t, b_t) AS dist"))
    return (pairs.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_candidates"),
                 F.expr(f"SUM(CASE WHEN dist <= {ED_NEAR} THEN 1 ELSE 0 END)")
                 .alias("n_near"),
                 F.min("dist").alias("min_dist"),
                 F.max("dist").alias("max_dist"),
                 F.sum("dist").alias("sum_dist"),
                 F.expr("SUM(a_id * 997 + b_id + dist)").alias("checksum"))
            .selectExpr("source",
                        "CAST(n_candidates AS BIGINT) AS n_candidates",
                        "CAST(n_near AS BIGINT) AS n_near",
                        "CAST(min_dist AS BIGINT) AS min_dist",
                        "CAST(max_dist AS BIGINT) AS max_dist",
                        "CAST(sum_dist AS BIGINT) AS sum_dist",
                        "CAST(checksum AS BIGINT) AS checksum"))


ORACLE_EDITDIST = f"""
WITH d AS (
  SELECT doc_id, source, n_chars, substr(text, 1, {ED_PREFIX}) AS t
  FROM documents),
pairs AS (
  SELECT a.source, a.doc_id AS a_id, b.doc_id AS b_id,
         levenshtein(a.t, b.t) AS dist
  FROM d a JOIN d b
    ON a.source = b.source AND a.doc_id < b.doc_id
   AND ABS(a.n_chars - b.n_chars) <= 1
  WHERE a.doc_id % {ED_SAMPLE_MOD} = 0)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN dist <= {ED_NEAR} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near,
       CAST(MIN(dist) AS BIGINT) AS min_dist,
       CAST(MAX(dist) AS BIGINT) AS max_dist,
       CAST(SUM(dist) AS BIGINT) AS sum_dist,
       CAST(SUM(a_id * 997 + b_id + dist) AS BIGINT) AS checksum
FROM pairs GROUP BY 1
"""


# --- trajectory_densify: integer-lerp path resampling -> tile coverage ---------
#
# GPS densification (map-matching / coverage heatmaps need evenly-spaced
# samples, not raw pings): every consecutive ping pair per user is resampled
# at Chebyshev-unit steps on the level-12 lattice by an INTEGER lerp —
# x0 + FLOOR(dx * j / n) is exact in both dialects (products < 2**52; when
# dx*j/n is a true integer the float division is exact, otherwise it is
# >= 1/n away from one, far beyond float64 error), so the resampled points
# and their tile counts hash identically.  Semi-open sampling (j in 0..n-1)
# makes consecutive segments tile without double-counting shared endpoints.

DENS_LEVEL = 12       # 4096x4096 source lattice
DENS_CAP = 48         # max samples per segment (teleport guard)
DENS_COARSE = 64      # coarse tile = lattice cell / 64 -> 64x64 output grid


def q_trajectory_densify(spark, sf_dir):
    """Densify per-user trajectories by integer lerp and count resampled
    points per coarse tile.  One window shuffle on user_id (lag), then a
    constant-bounded explode (<= DENS_CAP rows per segment) and one
    map-side-combined agg on the tile key — the same one-shuffle shape as
    staypoint_detect, with the fan-out bounded by construction so no segment
    can blow up a task at any corpus size."""
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, DENS_LEVEL)
    e = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id",
        "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us",
        f"{ix} AS x1", f"{iy} AS y1")
    w = "PARTITION BY user_id ORDER BY us, event_id"
    seg = e.selectExpr(
        "user_id", "x1", "y1",
        f"LAG(x1) OVER ({w}) AS x0", f"LAG(y1) OVER ({w}) AS y0")
    seg = seg.where("x0 IS NOT NULL").selectExpr(
        "user_id", "x0", "y0", "x1 - x0 AS dx", "y1 - y0 AS dy",
        f"GREATEST(1, LEAST({DENS_CAP}, GREATEST(ABS(x1 - x0), "
        "ABS(y1 - y0)))) AS n")
    samp = (seg.selectExpr("user_id", "x0", "y0", "dx", "dy", "n",
                           "explode(sequence(0, n - 1)) AS j")
            .selectExpr("user_id",
                        "x0 + CAST(FLOOR(dx * j / n) AS BIGINT) AS xs",
                        "y0 + CAST(FLOOR(dy * j / n) AS BIGINT) AS ys"))
    return (samp.selectExpr(
        "user_id",
        f"CAST(FLOOR(xs / {float(DENS_COARSE)!r}) AS BIGINT) AS tx",
        f"CAST(FLOOR(ys / {float(DENS_COARSE)!r}) AS BIGINT) AS ty",
        "xs", "ys")
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("n_samples"),
             F.countDistinct("user_id").alias("n_users"),
             F.expr("SUM((xs * 4096 + ys) % 1000003)").alias("checksum"))
        .selectExpr("tx", "ty", "CAST(n_samples AS BIGINT) AS n_samples",
                    "CAST(n_users AS BIGINT) AS n_users",
                    "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_densify() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, DENS_LEVEL)
    return f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, {ix} AS x1, {iy} AS y1
  FROM events),
seg0 AS (
  SELECT user_id, x1, y1, LAG(x1) OVER w AS x0, LAG(y1) OVER w AS y0
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
seg AS (
  SELECT user_id, x0, y0, x1 - x0 AS dx, y1 - y0 AS dy,
         GREATEST(1, LEAST({DENS_CAP},
                           GREATEST(ABS(x1 - x0), ABS(y1 - y0)))) AS n
  FROM seg0 WHERE x0 IS NOT NULL),
samp AS (
  SELECT user_id,
         x0 + CAST(FLOOR(dx * j / n) AS BIGINT) AS xs,
         y0 + CAST(FLOOR(dy * j / n) AS BIGINT) AS ys
  FROM seg, UNNEST(GENERATE_SERIES(0, n - 1)) AS t(j))
SELECT CAST(FLOOR(xs / {float(DENS_COARSE)!r}) AS BIGINT) AS tx,
       CAST(FLOOR(ys / {float(DENS_COARSE)!r}) AS BIGINT) AS ty,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM((xs * 4096 + ys) % 1000003) AS BIGINT) AS checksum
FROM samp GROUP BY 1, 2
"""


QUERIES: dict = {
    "convex_hull_groups": (q_convex_hull_groups, _oracle_hull()),
    "dedup_editdist": (q_dedup_editdist, ORACLE_EDITDIST),
    "trajectory_densify": (q_trajectory_densify, _oracle_densify()),
}


# --- kcore_decompose: bounded k-core peel on a deterministic graph -------------
#
# The degeneracy/coreness primitive (community-core extraction, spam-farm
# detection on link graphs).  The graph is synthesized from the shared hash
# family so both engines build the IDENTICAL edge list; the peel runs a
# FIXED number of rounds so the whole computation unrolls to finite SQL —
# pytest asserts the fixture converges well inside the bound (last two
# rounds equal), so the bounded result IS the k-core, not an approximation.

KC_NV = 600          # nodes
KC_NE = 2400         # raw edge draws (self-loops and dups removed)
KC_K = 5             # core degree threshold
KC_ROUNDS = 8        # fixture converges by round 5 (trace 411,393,388,385,384)


def _kc_edge_exprs() -> tuple:
    from .hashing import mix_sql
    return (f"({mix_sql('id')}) % {KC_NV}",
            f"({mix_sql('id * 2 + 1')}) % {KC_NV}")


def q_kcore_decompose(spark, sf_dir):
    """Per-round k-core peel summary (round, surviving nodes, id checksum).
    Spark runs the real iterative operator (graph.kcore_rounds: degree agg
    over the shrinking subgraph per round, broadcast semi-joins,
    localCheckpoint lineage truncation); the oracle unrolls the same rounds
    as chained CTEs.  At 100 TB the edge list is the only large input —
    each round is one shuffle over it and the alive set only shrinks."""
    from . import graph
    ax, bx = _kc_edge_exprs()
    raw = spark.range(0, KC_NE).selectExpr(f"{ax} AS x", f"{bx} AS y")
    edges = (raw.where("x <> y")
             .selectExpr("LEAST(x, y) AS a", "GREATEST(x, y) AS b")
             .distinct())
    return graph.kcore_rounds(edges, KC_K, KC_ROUNDS)


def _oracle_kcore() -> str:
    ax, bx = _kc_edge_exprs()
    ctes = [f"""ids AS (SELECT UNNEST(GENERATE_SERIES(0, {KC_NE - 1})) AS id),
raw AS (SELECT {ax} AS x, {bx} AS y FROM ids),
ed AS (SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
       FROM raw WHERE x <> y),
bi AS (SELECT a AS u, b AS v FROM ed UNION ALL SELECT b AS u, a AS v FROM ed),
alive0 AS (SELECT DISTINCT u AS node FROM bi)"""]
    for r in range(1, KC_ROUNDS + 1):
        ctes.append(f"""deg{r} AS (
  SELECT u AS node, COUNT(*) AS d FROM bi
  WHERE u IN (SELECT node FROM alive{r - 1})
    AND v IN (SELECT node FROM alive{r - 1})
  GROUP BY 1),
alive{r} AS (SELECT node FROM deg{r} WHERE d >= {KC_K})""")
    sels = [f"""SELECT CAST({r} AS BIGINT) AS round,
       CAST(COUNT(*) AS BIGINT) AS n_alive,
       CAST(SUM(node * 131) AS BIGINT) AS checksum
FROM alive{r} HAVING COUNT(*) > 0""" for r in range(KC_ROUNDS + 1)]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sels)


# --- interval_coverage: per-customer interval union (gaps-and-islands) ---------
#
# The interval-union primitive (SLA coverage, sensor uptime, ad-exposure
# windows): merge each customer's overlapping order-activity intervals and
# measure total covered days.  Interval ends are exact epoch-day integers;
# the island break test uses a running MAX over an explicit
# ROWS ... 1 PRECEDING frame, identical in both dialects.

IV_DAY_US = 86_400_000_000


def q_interval_coverage(spark, sf_dir):
    """Merge overlapping per-customer activity intervals
    [order day, order day + 1 + orderkey % 14) and report islands, covered
    days, and the largest merged span.  Classic gaps-and-islands: one
    customer-keyed window pass (running MAX of interval ends marks the
    breaks, running SUM numbers the islands) + two aggs that reuse the same
    exchange — ONE shuffle at any scale."""
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_custkey AS cust", "o_orderkey AS okey",
        f"CAST(FLOOR(unix_micros(CAST(o_orderdate AS TIMESTAMP_LTZ)) "
        f"/ {float(IV_DAY_US)!r}) AS BIGINT) AS s")
    o = o.selectExpr("cust", "okey", "s", "s + 1 + okey % 14 AS e")
    w = "PARTITION BY cust ORDER BY s, okey"
    brk = o.selectExpr(
        "cust", "okey", "s", "e",
        f"MAX(e) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 "
        "PRECEDING) AS prev_end")
    isl = brk.selectExpr(
        "cust", "s", "e",
        "CASE WHEN prev_end IS NULL OR s > prev_end THEN 1 ELSE 0 END "
        "AS is_break").selectExpr(
        "cust", "s", "e",
        f"SUM(is_break) OVER ({w.replace(', okey', ', s')} "
        "ROWS UNBOUNDED PRECEDING) AS isl")
    islands = (isl.groupBy("cust", "isl")
               .agg(F.min("s").alias("ist"), F.max("e").alias("ien"),
                    F.count(F.lit(1)).alias("n_iv")))
    return (islands.groupBy("cust")
            .agg(F.count(F.lit(1)).alias("n_islands"),
                 F.expr("SUM(ien - ist)").alias("covered_days"),
                 F.expr("MAX(ien - ist)").alias("max_island_days"),
                 F.sum("n_iv").alias("n_intervals"),
                 F.expr("SUM(ist % 10007 + ien % 10007)").alias("checksum"))
            .selectExpr("cust", "CAST(n_islands AS BIGINT) AS n_islands",
                        "CAST(covered_days AS BIGINT) AS covered_days",
                        "CAST(max_island_days AS BIGINT) AS max_island_days",
                        "CAST(n_intervals AS BIGINT) AS n_intervals",
                        "CAST(checksum AS BIGINT) AS checksum"))


ORACLE_INTERVALS = f"""
WITH o AS (
  SELECT o_custkey AS cust, o_orderkey AS okey,
         CAST(FLOOR(epoch_us(o_orderdate) / {float(IV_DAY_US)!r}) AS BIGINT)
           AS s
  FROM orders),
iv AS (SELECT cust, okey, s, s + 1 + okey % 14 AS e FROM o),
brk AS (
  SELECT cust, s, e,
         MAX(e) OVER (PARTITION BY cust ORDER BY s, okey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_end,
         okey
  FROM iv),
isl AS (
  SELECT cust, s, e,
         SUM(CASE WHEN prev_end IS NULL OR s > prev_end THEN 1 ELSE 0 END)
           OVER (PARTITION BY cust ORDER BY s, okey
                 ROWS UNBOUNDED PRECEDING) AS isl
  FROM brk),
islands AS (
  SELECT cust, isl, MIN(s) AS ist, MAX(e) AS ien, COUNT(*) AS n_iv
  FROM isl GROUP BY 1, 2)
SELECT cust, CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(ien - ist) AS BIGINT) AS covered_days,
       CAST(MAX(ien - ist) AS BIGINT) AS max_island_days,
       CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
       CAST(SUM(ist % 10007 + ien % 10007) AS BIGINT) AS checksum
FROM islands GROUP BY 1
"""


# --- bfs_distance_cells: multi-source BFS distance transform on the grid -------
#
# The raster proximity operator (distance-to-nearest-facility /
# nearest-hotspot bands): Chebyshev BFS from hash-selected seed cells over
# the occupied-cell set, capped at BFS_ROUNDS.  Seeds come from the shared
# hash so the seed set is identical at every corpus size and on both
# engines; the cumulative-frontier construction makes dist = min rounds.

BFS_LEVEL = 5        # 32x32 grid -> occupied set bounded by 1024 cells
BFS_ROUNDS = 4
BFS_SEED_MOD = 17    # ~6% of occupied cells are seeds


def q_bfs_distance_cells(spark, sf_dir):
    """Distance histogram of occupied cells to their nearest seed cell
    (-1 = beyond BFS_ROUNDS).  Spark runs the real iterative frontier
    expansion: per round, explode 8 neighbor offsets from the previous
    frontier, equi-join against the occupied set (never a theta join),
    anti-join against already-reached, localCheckpoint.  The occupied set
    is bounded by the lattice (<= 1024 rows) regardless of corpus size —
    the groupBy that builds it is the only full-data pass."""
    from .hashing import mix_sql
    n = 1 << BFS_LEVEL
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, BFS_LEVEL)
    occ = (_t(spark, sf_dir, "events")
           .selectExpr(f"{ix} AS ix", f"{iy} AS iy")
           .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("c"))
           .localCheckpoint())
    seeds = occ.where(f"({mix_sql(f'ix * {n} + iy')}) % {BFS_SEED_MOD} = 0")
    reached = seeds.selectExpr("ix", "iy", "c",
                               "CAST(0 AS BIGINT) AS dist").localCheckpoint()
    frontier = reached.select("ix", "iy")
    for r in range(1, BFS_ROUNDS + 1):
        nb = (frontier.selectExpr("ix", "iy",
                                  "explode(sequence(-1, 1)) AS dx")
              .selectExpr("ix + dx AS ix", "iy",
                          "explode(sequence(-1, 1)) AS dy")
              .selectExpr("ix", "iy + dy AS iy")
              .distinct())
        newly = (occ.join(nb, ["ix", "iy"], "semi")
                 .join(reached.select("ix", "iy"), ["ix", "iy"], "anti")
                 .selectExpr("ix", "iy", "c",
                             f"CAST({r} AS BIGINT) AS dist")
                 .localCheckpoint())
        reached = reached.union(newly).localCheckpoint()
        frontier = newly.select("ix", "iy")
    unreached = (occ.join(reached.select("ix", "iy"), ["ix", "iy"], "anti")
                 .selectExpr("ix", "iy", "c", "CAST(-1 AS BIGINT) AS dist"))
    return (reached.union(unreached)
            .groupBy("dist")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("c").alias("n_events"),
                 F.expr(f"SUM(ix * {n} + iy)").alias("checksum"))
            .selectExpr("dist", "CAST(n_cells AS BIGINT) AS n_cells",
                        "CAST(n_events AS BIGINT) AS n_events",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_bfs() -> str:
    from .hashing import mix_sql
    n = 1 << BFS_LEVEL
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, BFS_LEVEL)
    ctes = [f"""occ AS (
  SELECT {ix} AS ix, {iy} AS iy, COUNT(*) AS c FROM events GROUP BY 1, 2),
r0 AS (SELECT ix, iy FROM occ
       WHERE ({mix_sql(f'ix * {n} + iy')}) % {BFS_SEED_MOD} = 0)"""]
    for r in range(1, BFS_ROUNDS + 1):
        ctes.append(f"""r{r} AS (
  SELECT DISTINCT o.ix, o.iy FROM occ o JOIN r{r - 1} s
    ON ABS(o.ix - s.ix) <= 1 AND ABS(o.iy - s.iy) <= 1)""")
    dist_case = "CASE " + " ".join(
        f"WHEN ix * {n} + iy IN (SELECT ix * {n} + iy FROM r{r}) THEN {r}"
        for r in range(BFS_ROUNDS + 1)) + " ELSE -1 END"
    return ("WITH " + ",\n".join(ctes) + f""",
sel AS (SELECT ix, iy, c, {dist_case} AS dist FROM occ)
SELECT CAST(dist AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c) AS BIGINT) AS n_events,
       CAST(SUM(ix * {n} + iy) AS BIGINT) AS checksum
FROM sel GROUP BY 1""")


QUERIES.update({
    "kcore_decompose": (q_kcore_decompose, _oracle_kcore()),
    "interval_coverage": (q_interval_coverage, ORACLE_INTERVALS),
    "bfs_distance_cells": (q_bfs_distance_cells, _oracle_bfs()),
})


# --- image_dup_clusters: phash near-dup pairs -> clusters -> survivors ---------
#
# Completes the IMAGE dedup pipeline the way dedup_clusters/dedup_survivors
# complete the document one: banded-phash candidate pairs (the
# images_phash_near_dup construction) become duplicate groups via
# distributed min-label propagation, singletons conserved, one canonical
# survivor per group.  SUM(n_members) == corpus size is the invariant a
# dropped or double-counted image breaks (gated: the cluster rows hash it).


def q_image_dup_clusters(spark, sf_dir):
    """Image duplicate groups over the perceptual-hash graph.  Pairs come
    from the 4x16-bit banded LSH self-join + exact hamming<=10 verify (pure
    JVM SQL, never all-pairs); groups from graph.connected_components (one
    shuffle per round, lineage truncated); images in no pair are singleton
    clusters of themselves.  Per cluster: size, canonical survivor (min
    id), and an id checksum.  At 10^12 images the pair join is the only
    corpus-scale stage — CC runs on the (much smaller) duplicate subgraph."""
    from .graph import connected_components
    from .queries_spatial import N_PHD, PHD_HAM_MAX, _phd_hash_sql
    i = "CAST(id AS BIGINT)"
    ph = spark.range(N_PHD).selectExpr(
        f"{i} AS img_id", f"{_phd_hash_sql(i, xor_op='caret')} AS ph")
    bands = ph.selectExpr(
        "img_id", "ph", "explode(array(0, 1, 2, 3)) AS band").selectExpr(
        "img_id", "band", "shiftright(ph, band * 16) & 65535 AS bv", "ph")
    a = bands.selectExpr("img_id AS ai", "ph AS pa", "band", "bv")
    b = bands.selectExpr("img_id AS bi", "ph AS pb", "band", "bv")
    pairs = (a.join(b, ["band", "bv"])
             .where(F.col("ai") < F.col("bi"))
             .select("ai", "bi", "pa", "pb").distinct()
             .where(F.expr(f"bit_count(pa ^ pb) <= {PHD_HAM_MAX}"))
             .select("ai", "bi"))
    comp = connected_components(pairs, "ai", "bi")
    lab = (ph.join(comp, ph["img_id"] == comp["node"], "left")
           .selectExpr("img_id",
                       "COALESCE(component, img_id) AS cluster"))
    return (lab.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.min("img_id").alias("survivor_id"),
                 F.expr("SUM(img_id * 31 + 7)").alias("checksum"))
            .selectExpr("cluster", "CAST(n_members AS BIGINT) AS n_members",
                        "CAST(survivor_id AS BIGINT) AS survivor_id",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_image_clusters() -> str:
    from .queries_spatial import N_PHD, PHD_HAM_MAX, _phd_hash_sql
    h = _phd_hash_sql("i", xor_op="func")
    return f"""
WITH RECURSIVE ids AS (
  SELECT UNNEST(GENERATE_SERIES(0, {N_PHD - 1})) AS i),
ph AS (SELECT CAST(i AS BIGINT) AS img_id, {h} AS ph FROM ids),
bands AS (
  SELECT img_id, ph, band, (ph >> (band * 16)) & 65535 AS bv
  FROM ph, (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS band) b),
pairs AS (
  SELECT DISTINCT a.img_id AS ai, b.img_id AS bi, a.ph AS pa, b.ph AS pb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bv = b.bv AND a.img_id < b.img_id),
ok AS (SELECT ai, bi FROM pairs WHERE bit_count(xor(pa, pb)) <= {PHD_HAM_MAX}),
edges AS (SELECT ai AS s, bi AS d FROM ok UNION ALL SELECT bi, ai FROM ok),
nodes AS (SELECT DISTINCT s AS n FROM edges),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, e.d FROM reach r JOIN edges e ON e.s = r.m),
comp AS (SELECT n AS img_id, MIN(m) AS component FROM reach GROUP BY n),
lab AS (
  SELECT p.img_id, COALESCE(c.component, p.img_id) AS cluster
  FROM ph p LEFT JOIN comp c ON p.img_id = c.img_id)
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(img_id) AS BIGINT) AS survivor_id,
       CAST(SUM(img_id * 31 + 7) AS BIGINT) AS checksum
FROM lab GROUP BY 1
"""


QUERIES.update({
    "image_dup_clusters": (q_image_dup_clusters, _oracle_image_clusters()),
})


# --- image_mosaic_tiles: per-tile thumbnail collage over real pixels -----------
#
# The dataset-preview / contact-sheet composition op: the first MOS_K
# images of each coarse tile are NN-resized and placed into a 2x2 collage.
# Because the checksum weights are evaluated at MOSAIC coordinates, the
# per-image partial sums are additive — the collage itself never
# materializes and the whole op is decode + one einsum per shape group +
# one tile-keyed agg.  The oracle rebuilds every thumbnail pixel from the
# generator formula P(y,x,c) = mix(i*1000003 + y*4096 + x*4 + c) % 256
# with the resize index remapping and slot offsets — a wrong slot
# assignment, row-order flip, or resize origin bug shifts the tile sum.

MOS_N = 48           # ids 0..47; qb (lossy) excluded -> 32 raw/png images
MOS_LVL = 2          # coarse tiles so most tiles fill all 4 slots
MOS_K = 4            # 2x2 collage
MOS_RES = 16


def q_image_mosaic_tiles(spark, sf_dir):
    """Per-tile 2x2 mosaic checksums over real decoded bytes.  Plan:
    codegen tile-assign -> one tile-keyed ROW_NUMBER window (deterministic
    slot order by image ordinal) -> shape-grouped Arrow decode/resize
    kernel -> tile agg.  At 10^12 images the window and agg share the tile
    key (one shuffle); the kernel is the same bounded-thumbnail math at
    any corpus size."""
    from . import multimodal, spatial
    img = fixtures.images_df(spark, MOS_N, partitions=4).where(
        F.col("fmt") != "qb")
    t = spatial.tile_assign(img, "lon", "lat", MOS_LVL).selectExpr(
        "cell_id AS tile", "image_id", "bytes", "w", "h", "fmt",
        "CAST(substr(image_id, 4) AS BIGINT) AS i")
    sel = (t.selectExpr(
        "*", "ROW_NUMBER() OVER (PARTITION BY tile ORDER BY i) - 1 AS slot")
        .where(f"slot < {MOS_K}"))
    cs = multimodal.mosaic_checksums(sel, res=MOS_RES, grid=2)
    withi = cs.selectExpr("tile", "cs",
                          "CAST(substr(image_id, 4) AS BIGINT) AS i")
    return (withi.groupBy("tile")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("cs").alias("mosaic_cs"),
                 F.expr("SUM(i * 13)").alias("ids_cs"))
            .selectExpr("tile", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(mosaic_cs AS BIGINT) AS mosaic_cs",
                        "CAST(ids_cs AS BIGINT) AS ids_cs"))


def _oracle_mosaic() -> str:
    from .hashing import mix_sql
    m = fixtures.images_meta_sql("i")
    tile = cells.cell_sql("lon", "lat", MOS_LVL)
    yi = f"CAST(FLOOR(yy.y * h / {float(MOS_RES)!r}) AS BIGINT)"
    xi = f"CAST(FLOOR(xx.x * w / {float(MOS_RES)!r}) AS BIGINT)"
    px = f"({mix_sql(f'i * 1000003 + ({yi}) * 4096 + ({xi}) * 4 + cc.c')} % 256)"
    wgt = (f"(1 + ((ox + xx.x) * 31 + (oy + yy.y) * 17 + cc.c * 7) % 101)")
    return f"""
WITH imgs AS (
  SELECT i, {m['w']} AS w, {m['h']} AS h,
         {m['lon']} AS lon, {m['lat']} AS lat
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {MOS_N - 1})) AS i) t
  WHERE i % 3 <> 2),
tiled AS (
  SELECT i, w, h, {tile} AS tile FROM imgs),
sel AS (
  SELECT i, w, h, tile,
         ROW_NUMBER() OVER (PARTITION BY tile ORDER BY i) - 1 AS slot
  FROM tiled QUALIFY slot < {MOS_K}),
placed AS (
  SELECT i, w, h, tile,
         CAST(FLOOR(slot / 2) AS BIGINT) * {MOS_RES} AS oy,
         (slot % 2) * {MOS_RES} AS ox
  FROM sel),
cs AS (
  SELECT tile, i, SUM({px} * {wgt}) AS cs
  FROM placed,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, {MOS_RES - 1})) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, {MOS_RES - 1})) AS x) xx,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc
  GROUP BY tile, i)
SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(cs) AS BIGINT) AS mosaic_cs,
       CAST(SUM(i * 13) AS BIGINT) AS ids_cs
FROM cs GROUP BY 1
"""


QUERIES.update({
    "image_mosaic_tiles": (q_image_mosaic_tiles, _oracle_mosaic()),
})


# --- bloom_prefilter: deterministic Bloom-filter join pre-filter ----------------
#
# The runtime-row-filter pattern (Spark's own runtime bloom pushdown /
# Iceberg bloom columns): build a 4096-bit Bloom filter over the open
# orders' customer keys, probe every customer, and measure the filter's
# selectivity against the exact semi-join truth.  All hashes come from the
# shared integer family and the filter is 63-bit int64 words built with
# BIT_OR, so the whole structure — including every false positive — is
# bit-identical on both engines and the gate is exact, not statistical.

BF_BITS = 4096
BF_WORD = 63         # bits per word: DuckDB's BIGINT << raises on shift 63
                     # (signed overflow), so words hold 63 bits and the
                     # sign bit is never produced on either engine
BF_K = 3             # hash functions


def _bf_bit(key: str, j: str) -> str:
    from .hashing import mix_sql
    return f"({mix_sql(f'({key}) * 31 + ({j}) * 7 + 1')}) % {BF_BITS}"


def q_bloom_prefilter(spark, sf_dir):
    """Bloom pre-filter quality report per market segment: probes that
    pass the filter (all BF_K bits set) vs exact membership, separating
    true hits from false positives.  Build side: one groupBy-BIT_OR over
    k x |keys| tiny rows -> 66 words (a broadcastable runtime filter at
    any scale); probe side: explode k bit positions, ONE equi-join on the
    word index, pass iff all k bits present.  The exact truth comes from a
    broadcast semi-join — the thing the filter would short-circuit at
    100 TB."""
    o = _t(spark, sf_dir, "orders").where("o_orderstatus = 'O'")
    keys = o.select("o_custkey").distinct()
    bits = keys.selectExpr(
        "o_custkey", f"explode(sequence(0, {BF_K - 1})) AS j").selectExpr(
        f"{_bf_bit('o_custkey', 'j')} AS bit").selectExpr(
        f"CAST(FLOOR(bit / 63.0) AS BIGINT) AS word", "bit % 63 AS pos")
    words = (bits.groupBy("word")
             .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), "
                         "CAST(pos AS INT)))").alias("w")))
    probes = _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "c_mktsegment")
    pbits = probes.selectExpr(
        "c_custkey", "c_mktsegment",
        f"explode(sequence(0, {BF_K - 1})) AS j").selectExpr(
        "c_custkey", "c_mktsegment",
        f"{_bf_bit('c_custkey', 'j')} AS bit").selectExpr(
        "c_custkey", "c_mktsegment",
        "CAST(FLOOR(bit / 63.0) AS BIGINT) AS word", "bit % 63 AS pos")
    hit = (pbits.join(F.broadcast(words), "word", "left")
           .selectExpr("c_custkey", "c_mktsegment",
                       "CASE WHEN w IS NOT NULL AND "
                       "(shiftright(w, CAST(pos AS INT)) & 1) = 1 "
                       "THEN 1 ELSE 0 END AS b"))
    passed = (hit.groupBy("c_custkey", "c_mktsegment")
              .agg(F.expr(f"CAST(SUM(b) = {BF_K} AS INT)").alias("maybe")))
    truth = (passed.join(keys.selectExpr("o_custkey AS c_custkey")
                         .withColumn("t", F.lit(1)), "c_custkey", "left")
             .selectExpr("c_mktsegment", "maybe",
                         "CASE WHEN t IS NOT NULL THEN 1 ELSE 0 END "
                         "AS is_member"))
    return (truth.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_probes"),
                 F.sum("maybe").alias("n_pass"),
                 F.sum("is_member").alias("n_members"),
                 F.expr("SUM(CASE WHEN maybe = 1 AND is_member = 0 "
                        "THEN 1 ELSE 0 END)").alias("n_false_pos"),
                 F.expr("SUM(CASE WHEN maybe = 0 AND is_member = 1 "
                        "THEN 1 ELSE 0 END)").alias("n_false_neg"))
            .selectExpr("c_mktsegment",
                        "CAST(n_probes AS BIGINT) AS n_probes",
                        "CAST(n_pass AS BIGINT) AS n_pass",
                        "CAST(n_members AS BIGINT) AS n_members",
                        "CAST(n_false_pos AS BIGINT) AS n_false_pos",
                        "CAST(n_false_neg AS BIGINT) AS n_false_neg"))


def _oracle_bloom() -> str:
    return f"""
WITH keys AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
bits AS (
  SELECT {_bf_bit('o_custkey', 'j')} AS bit
  FROM keys, (SELECT UNNEST(GENERATE_SERIES(0, {BF_K - 1})) AS j) js),
words AS (
  SELECT CAST(FLOOR(bit / 63.0) AS BIGINT) AS word,
         BIT_OR(CAST(1 AS BIGINT) << CAST(bit % 63 AS INT)) AS w
  FROM bits GROUP BY 1),
pbits AS (
  SELECT c_custkey, c_mktsegment, {_bf_bit('c_custkey', 'j')} AS bit
  FROM customer, (SELECT UNNEST(GENERATE_SERIES(0, {BF_K - 1})) AS j) js),
hit AS (
  SELECT p.c_custkey, p.c_mktsegment,
         CASE WHEN w.w IS NOT NULL AND
              ((w.w >> CAST(p.bit % 63 AS INT)) & 1) = 1
              THEN 1 ELSE 0 END AS b
  FROM (SELECT c_custkey, c_mktsegment, bit,
               CAST(FLOOR(bit / 63.0) AS BIGINT) AS word FROM pbits) p
  LEFT JOIN words w ON p.word = w.word),
passed AS (
  SELECT c_custkey, c_mktsegment,
         CAST(SUM(b) = {BF_K} AS INT) AS maybe
  FROM hit GROUP BY 1, 2),
truth AS (
  SELECT p.c_mktsegment, p.maybe,
         CASE WHEN k.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS is_member
  FROM passed p LEFT JOIN keys k ON p.c_custkey = k.o_custkey)
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(maybe) AS BIGINT) AS n_pass,
       CAST(SUM(is_member) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN maybe = 1 AND is_member = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       CAST(SUM(CASE WHEN maybe = 0 AND is_member = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_neg
FROM truth GROUP BY 1
"""


# --- cm_heavy_hitters: count-min sketch frequency estimation -------------------
#
# The C11 family's other classic: a d x w count-min sketch over order
# customer keys, estimates = min over rows, compared against exact counts.
# Deterministic hash rows from the shared family make every counter — and
# therefore every over-estimate — reproducible, so the gate is exact.

CM_D = 4
CM_W = 256
CM_TOPK = 10


def q_cm_heavy_hitters(spark, sf_dir):
    """Top-k heavy hitters by count-min estimate, with the exact count and
    the (always non-negative) over-estimate per key.  Sketch build is one
    groupBy over d x |rows| tiny tuples — a mergeable, fixed-size summary
    (the 100 TB point: d*w counters regardless of corpus); estimation
    joins each distinct key's d buckets back by ONE equi-join on
    (row, bucket).  Ordering by (estimate DESC, key) is total, so top-k is
    deterministic on any engine."""
    from .hashing import mix_sql
    o = _t(spark, sf_dir, "orders")
    cnt = (o.selectExpr("o_custkey", f"explode(sequence(0, {CM_D - 1})) AS j")
           .selectExpr("j", f"({mix_sql('o_custkey * 5 + j * 11 + 3')}) "
                       f"% {CM_W} AS bucket")
           .groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c")))
    keys = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("exact"))
    kb = keys.selectExpr(
        "o_custkey", "exact",
        f"explode(sequence(0, {CM_D - 1})) AS j").selectExpr(
        "o_custkey", "exact", "j",
        f"({mix_sql('o_custkey * 5 + j * 11 + 3')}) % {CM_W} AS bucket")
    est = (kb.join(F.broadcast(cnt), ["j", "bucket"])
           .groupBy("o_custkey", "exact")
           .agg(F.min("c").alias("est")))
    return (est.orderBy(F.desc("est"), "o_custkey").limit(CM_TOPK)
            .selectExpr("o_custkey", "CAST(est AS BIGINT) AS est",
                        "CAST(exact AS BIGINT) AS exact",
                        "CAST(est - exact AS BIGINT) AS overestimate"))


def _oracle_cm() -> str:
    from .hashing import mix_sql
    b = f"({mix_sql('o_custkey * 5 + j * 11 + 3')}) % {CM_W}"
    return f"""
WITH js AS (SELECT UNNEST(GENERATE_SERIES(0, {CM_D - 1})) AS j),
cnt AS (
  SELECT j, {b} AS bucket, COUNT(*) AS c
  FROM orders, js GROUP BY 1, 2),
keys AS (SELECT o_custkey, COUNT(*) AS exact FROM orders GROUP BY 1),
kb AS (
  SELECT o_custkey, exact, j, {b} AS bucket FROM keys, js),
est AS (
  SELECT kb.o_custkey, kb.exact, MIN(cnt.c) AS est
  FROM kb JOIN cnt ON kb.j = cnt.j AND kb.bucket = cnt.bucket
  GROUP BY 1, 2)
SELECT o_custkey, CAST(est AS BIGINT) AS est,
       CAST(exact AS BIGINT) AS exact,
       CAST(est - exact AS BIGINT) AS overestimate
FROM est ORDER BY est DESC, o_custkey LIMIT {CM_TOPK}
"""


QUERIES.update({
    "bloom_prefilter": (q_bloom_prefilter, _oracle_bloom()),
    "cm_heavy_hitters": (q_cm_heavy_hitters, _oracle_cm()),
})


# --- twap_values: exact-integer time-weighted average ---------------------------
#
# The TimescaleDB time_weight / OHLC-family op: the value column is a step
# function between events; TWAP = integral(value dt) / total dt.  A float
# integral would be aggregation-order-dependent, so the integral is made
# EXACT: values quantize to integer cents via FLOOR(x*100 + 0.5) (the
# explicit half-up rule — engine ROUND half-rules never enter) and dwell
# times to whole seconds; each term is < 5e4 cents x 1e6 s bounds, far
# inside int64 at gate scale (at 10^12 rows the accumulator moves to
# DECIMAL(38)).  The final TWAP is ONE int/int division — bit-identical on
# any engine and partitioning.

TW_BUCKETS = 25      # report per user_id % TW_BUCKETS


def q_twap_values(spark, sf_dir):
    """Per-bucket time-weighted average of the event value stream: one
    user-keyed window (LEAD for the dwell), integer integral, one
    map-side-combined agg on the bucket key."""
    e = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id",
        "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc")
    w = "PARTITION BY user_id ORDER BY us, event_id"
    seg = e.selectExpr(
        "user_id", "vc", "us", f"LEAD(us) OVER ({w}) AS next_us")
    seg = seg.where("next_us IS NOT NULL").selectExpr(
        f"user_id % {TW_BUCKETS} AS bucket", "vc",
        "CAST(FLOOR((next_us - us) / 1000000.0) AS BIGINT) AS dt_s")
    return (seg.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_segments"),
                 F.expr("SUM(vc * dt_s)").alias("integral_cs"),
                 F.sum("dt_s").alias("total_s"))
            .selectExpr("bucket",
                        "CAST(n_segments AS BIGINT) AS n_segments",
                        "CAST(integral_cs AS BIGINT) AS integral_cs",
                        "CAST(total_s AS BIGINT) AS total_s",
                        "CAST(integral_cs AS DOUBLE) / total_s "
                        "AS twap_cents"))


ORACLE_TWAP = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events),
seg0 AS (
  SELECT user_id, vc, us, LEAD(us) OVER w AS next_us
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
seg AS (
  SELECT user_id % {TW_BUCKETS} AS bucket, vc,
         CAST(FLOOR((next_us - us) / 1000000.0) AS BIGINT) AS dt_s
  FROM seg0 WHERE next_us IS NOT NULL)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(vc * dt_s) AS BIGINT) AS integral_cs,
       CAST(SUM(dt_s) AS BIGINT) AS total_s,
       CAST(SUM(vc * dt_s) AS DOUBLE) / SUM(dt_s) AS twap_cents
FROM seg GROUP BY 1
"""


# --- trajectory_simplify: snap + consecutive-run collapse -----------------------
#
# The dual of trajectory_densify (the vector-tile / track-storage
# simplifier): snap each ping to a level-8 cell and keep only points that
# CHANGE cell — consecutive duplicates collapse, preserving the visit
# order.  The order-SENSITIVE checksum (cell weighted by its kept-sequence
# index) catches a reordering or a dropped/extra retained point that
# symmetric sums would miss.  All integer; one user-keyed window shuffle
# reused by both window passes and the agg.

SIMP_LEVEL = 8


def q_trajectory_simplify(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, SIMP_LEVEL)
    n = 1 << SIMP_LEVEL
    e = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id",
        "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us",
        f"({ix}) * {n} + ({iy}) AS cell")
    w = "PARTITION BY user_id ORDER BY us, event_id"
    # n_points rides the SAME user-keyed exchange as the lag window — a
    # separate groupBy branch would re-scan events and add a second
    # shuffle + join (measured: 2 exchanges -> 1 after this fold)
    kept = e.selectExpr(
        "user_id", "us", "event_id", "cell",
        f"LAG(cell) OVER ({w}) AS prev_cell",
        "COUNT(*) OVER (PARTITION BY user_id) AS n_points").selectExpr(
        "user_id", "us", "event_id", "cell", "n_points",
        "CASE WHEN prev_cell IS NULL OR cell <> prev_cell THEN 1 ELSE 0 "
        "END AS keep")
    seqd = kept.where("keep = 1").selectExpr(
        "user_id", "cell", "n_points",
        f"ROW_NUMBER() OVER ({w}) AS seq")
    return (seqd.groupBy("user_id")
            .agg(F.max("n_points").alias("n_points"),
                 F.count(F.lit(1)).alias("n_kept"),
                 F.expr("SUM(cell * (seq % 97))").alias("path_checksum"),
                 F.max("seq").alias("max_seq"))
            .selectExpr("user_id", "CAST(n_points AS BIGINT) AS n_points",
                        "CAST(n_kept AS BIGINT) AS n_kept",
                        "CAST(max_seq AS BIGINT) AS max_seq",
                        "CAST(path_checksum AS BIGINT) AS path_checksum"))


def _oracle_simplify() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, SIMP_LEVEL)
    n = 1 << SIMP_LEVEL
    return f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         ({ix}) * {n} + ({iy}) AS cell
  FROM events),
kept AS (
  SELECT user_id, us, event_id, cell,
         CASE WHEN LAG(cell) OVER w IS NULL OR cell <> LAG(cell) OVER w
              THEN 1 ELSE 0 END AS keep
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
seqd AS (
  SELECT user_id, cell,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id)
           AS seq
  FROM kept WHERE keep = 1),
tot AS (SELECT user_id, COUNT(*) AS n_points FROM e GROUP BY 1),
agg AS (
  SELECT user_id, COUNT(*) AS n_kept,
         SUM(cell * (seq % 97)) AS path_checksum, MAX(seq) AS max_seq
  FROM seqd GROUP BY 1)
SELECT t.user_id, CAST(t.n_points AS BIGINT) AS n_points,
       CAST(a.n_kept AS BIGINT) AS n_kept,
       CAST(a.max_seq AS BIGINT) AS max_seq,
       CAST(a.path_checksum AS BIGINT) AS path_checksum
FROM tot t JOIN agg a ON t.user_id = a.user_id
"""


QUERIES.update({
    "twap_values": (q_twap_values, ORACLE_TWAP),
    "trajectory_simplify": (q_trajectory_simplify, _oracle_simplify()),
})


# --- lm_bigram_score: corpus-LM quality scoring (CCNet-style) -------------------
#
# The language-model quality filter of a pretraining pipeline (CCNet /
# Wikipedia-LM perplexity bucketing): score each document by the average
# MLE bigram log-probability under the CORPUS's own bigram statistics.
# p(w2|w1) = count(w1 w2) / count(w1 .) is an exact int/int ratio; LN is
# the one float op (JVM Math.log vs libm differ by <=1 ulp — the
# documented round-6 rule absorbs the per-term drift and the
# aggregation-order drift of the float SUM, both ~1e-13 at this scale).

LM_ROUND = 6


def q_lm_bigram_score(spark, sf_dir):
    """Per-doc average bigram log-prob under corpus MLE statistics.  Scale
    shape: two corpus-wide count aggregations (bigram, bigram-prefix) and
    two equi-joins keyed by them — the classic shuffle-on-ngram plan; the
    per-doc reduce reuses the doc key.  No Python anywhere."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.zip_with(F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    bg = (d.select("doc_id", bigrams.alias("bgs"))
          .select("doc_id", F.explode("bgs").alias("bg"))
          .withColumn("pfx", F.split(F.col("bg"), " ")[0]))
    cb = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    cp = bg.groupBy("pfx").agg(F.count(F.lit(1)).alias("cp"))
    scored = (bg.join(cb, "bg").join(cp, "pfx")
              .selectExpr("doc_id", "LN(CAST(cb AS DOUBLE) / cp) AS lp"))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.expr(f"ROUND(SUM(lp) / COUNT(*), {LM_ROUND})")
                 .alias("avg_logprob"))
            .selectExpr("doc_id", "CAST(n_bigrams AS BIGINT) AS n_bigrams",
                        "avg_logprob"))


ORACLE_LM_SCORE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
bg AS (SELECT doc_id, ts[u.i] || ' ' || ts[u.i + 1] AS bg, ts[u.i] AS pfx
       FROM toks, UNNEST(range(1, len(ts))) AS u(i)),
cb AS (SELECT bg, COUNT(*) AS cb FROM bg GROUP BY 1),
cp AS (SELECT pfx, COUNT(*) AS cp FROM bg GROUP BY 1),
scored AS (
  SELECT bg.doc_id, LN(CAST(cb.cb AS DOUBLE) / cp.cp) AS lp
  FROM bg JOIN cb ON bg.bg = cb.bg JOIN cp ON bg.pfx = cp.pfx)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(SUM(lp) / COUNT(*), {LM_ROUND}) AS avg_logprob
FROM scored GROUP BY 1
"""


# --- quadkey_encode: Bing-maps quadkey interop ----------------------------------
#
# The third tile-id interop format next to geohash and Hilbert: quadkey =
# the Morton code's base-4 digits, MSB-first, one char per zoom level.
# Spark renders via CONV(m, 10, 4), DuckDB via to_base(m, 4) — different
# builtins, same digits — then LPAD to the zoom; the shared Morton spread
# supplies the integer.

QK_LEVEL = 8         # 8-char quadkeys
QK_PREFIX = 4        # report per 4-char prefix


def q_quadkey_encode(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, QK_LEVEL)
    m = cells.morton_sql(ix, iy)
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_id",
        f"LPAD(CONV(CAST(({m}) AS STRING), 10, 4), {QK_LEVEL}, '0') AS qk")
    return (e.selectExpr("substr(qk, 1, %d) AS prefix" % QK_PREFIX, "qk",
                         "event_id")
            .groupBy("prefix")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("qk").alias("min_qk"), F.max("qk").alias("max_qk"),
                 F.expr("SUM(event_id % 999983)").alias("checksum"))
            .selectExpr("prefix", "CAST(n AS BIGINT) AS n",
                        "min_qk", "max_qk",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_quadkey() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, QK_LEVEL)
    m = cells.morton_sql(ix, iy)
    return f"""
WITH e AS (
  SELECT event_id, LPAD(to_base({m}, 4), {QK_LEVEL}, '0') AS qk
  FROM events)
SELECT substr(qk, 1, {QK_PREFIX}) AS prefix,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(qk) AS min_qk, MAX(qk) AS max_qk,
       CAST(SUM(event_id % 999983) AS BIGINT) AS checksum
FROM e GROUP BY 1
"""


QUERIES.update({
    "lm_bigram_score": (q_lm_bigram_score, ORACLE_LM_SCORE),
    "quadkey_encode": (q_quadkey_encode, _oracle_quadkey()),
})


# --- geometric_median: fixed-iteration Weiszfeld ---------------------------------
#
# The robust spatial center (1-median / facility location — the statistic
# outliers can't drag the way a mean is dragged).  Weiszfeld's algorithm
# x' = SUM(p/d) / SUM(1/d) runs a FIXED 8 iterations from the centroid so
# the float64 op sequence unrolls identically on both engines (same
# pattern as the CRS Newton inverses); d gets a 1e-9 floor so a point
# sitting exactly on the estimate can't divide by zero.  The iteration is
# contractive, so the ~1e-15 aggregation-order noise of the float SUMs
# never amplifies — round-6 output is deterministic.  Scale shape: per
# iteration ONE map-side-combined aggregation over the points keyed by the
# group (the estimate is a broadcast G-row table); 8 iterations = 8
# passes, each whole-stage codegen.

WZ_ITERS = 8
WZ_EPS = 1e-9


def q_geometric_median(spark, sf_dir):
    e = (_t(spark, sf_dir, "events")
         .selectExpr("event_type AS g",
                     f"{fixtures.EVENT_LON_SQL} AS px",
                     f"{fixtures.EVENT_LAT_SQL} AS py")
         .localCheckpoint())
    est = e.groupBy("g").agg(F.avg("px").alias("mx"),
                             F.avg("py").alias("my"))
    d = (f"(SQRT((px - mx) * (px - mx) + (py - my) * (py - my)) "
         f"+ CAST({WZ_EPS!r} AS DOUBLE))")
    for _ in range(WZ_ITERS):
        est = (e.join(F.broadcast(est), "g")
               .selectExpr("g", f"px / {d} AS wx", f"py / {d} AS wy",
                           f"1.0 / {d} AS w")
               .groupBy("g")
               .agg(F.expr("SUM(wx) / SUM(w)").alias("mx"),
                    F.expr("SUM(wy) / SUM(w)").alias("my")))
    n = e.groupBy("g").agg(F.count(F.lit(1)).alias("n_points"))
    return (n.join(est, "g")
            .selectExpr("g", "CAST(n_points AS BIGINT) AS n_points",
                        "ROUND(mx, 6) AS median_lon",
                        "ROUND(my, 6) AS median_lat"))


def _oracle_geometric_median() -> str:
    from .queries_spatial import EVENT_POINTS_SQL
    d = (f"(SQRT((px - mx) * (px - mx) + (py - my) * (py - my)) "
         f"+ CAST({WZ_EPS!r} AS DOUBLE))")
    its = "\n".join(
        f"""it{k} AS (
  SELECT e.g, SUM(px / {d}) / SUM(1.0 / {d}) AS mx2,
         SUM(py / {d}) / SUM(1.0 / {d}) AS my2
  FROM e JOIN it{k - 1}r i ON e.g = i.g GROUP BY e.g),
it{k}r AS (SELECT g, mx2 AS mx, my2 AS my FROM it{k}),"""
        for k in range(1, WZ_ITERS + 1))
    return f"""
WITH e AS (
  SELECT event_type AS g, lon AS px, lat AS py FROM {EVENT_POINTS_SQL} p),
it0r AS (
  SELECT g, AVG(px) AS mx, AVG(py) AS my FROM e GROUP BY 1),
{its}
n AS (SELECT g, COUNT(*) AS n_points FROM e GROUP BY 1)
SELECT n.g, CAST(n.n_points AS BIGINT) AS n_points,
       ROUND(f.mx, 6) AS median_lon, ROUND(f.my, 6) AS median_lat
FROM n JOIN it{WZ_ITERS}r f ON n.g = f.g
"""


QUERIES.update({
    "geometric_median": (q_geometric_median, _oracle_geometric_median()),
})


# --- fence_overlap_pairs: polygon-overlay candidate generation ------------------
#
# The overlay/conflation first stage (which polygons even touch?): every
# fence bbox scatters to the coarse grid cells it covers (bounded <=4 cells
# per fence at this level), candidates come from ONE cell-keyed equi-join —
# never an all-pairs cross — and the exact bbox-overlap predicate + area
# refine the candidates.  Because the fences are axis-aligned rectangles,
# the bbox intersection IS the outer-ring intersection, so the reported
# area is a true overlay area.  The ORACLE runs the brute-force O(M^2)
# pair join instead — equality proves the grid candidate generation is
# LOSSLESS, not just that both sides agree on some candidate set.

FOV_M = 64           # fence count (fixtures layer size)
FOV_LEVEL = 3        # 8x8 world grid; fence bboxes span <= 2 cells per axis


def _fence_bbox_sql(j: str) -> dict:
    from .hashing import u01_sql
    cx = (f"(CASE WHEN ({j}) = 63 THEN {fixtures.HOT_LON + 0.005!r} "
          f"ELSE {u01_sql(f'({j}) * 7 + 1')} * 360.0 - 180.0 END)")
    cy = (f"(CASE WHEN ({j}) = 63 THEN {fixtures.HOT_LAT + 0.005!r} "
          f"ELSE {u01_sql(f'({j}) * 7 + 2')} * 160.0 - 80.0 END)")
    hx = (f"(CASE WHEN ({j}) = 63 THEN 1.0 "
          f"ELSE 0.5 + {u01_sql(f'({j}) * 7 + 3')} * 4.0 END)")
    hy = (f"(CASE WHEN ({j}) = 63 THEN 1.0 "
          f"ELSE 0.5 + {u01_sql(f'({j}) * 7 + 4')} * 4.0 END)")
    return {"xmin": f"({cx} - {hx})", "xmax": f"({cx} + {hx})",
            "ymin": f"({cy} - {hy})", "ymax": f"({cy} + {hy})"}


def q_fence_overlap_pairs(spark, sf_dir):
    b = _fence_bbox_sql("id")
    f = spark.range(0, FOV_M).selectExpr(
        "id AS j", f"{b['xmin']} AS xmin", f"{b['xmax']} AS xmax",
        f"{b['ymin']} AS ymin", f"{b['ymax']} AS ymax")
    qx0, qy0 = cells.quantize_sql("xmin", "ymin", FOV_LEVEL)
    qx1, qy1 = cells.quantize_sql("xmax", "ymax", FOV_LEVEL)
    cover = (f.selectExpr("*", f"explode(sequence({qx0}, {qx1})) AS cx")
             .selectExpr("*", f"explode(sequence({qy0}, {qy1})) AS cy"))
    a = cover.selectExpr("j AS aj", "xmin AS ax0", "xmax AS ax1",
                         "ymin AS ay0", "ymax AS ay1", "cx", "cy")
    bb = cover.selectExpr("j AS bj", "xmin AS bx0", "xmax AS bx1",
                          "ymin AS by0", "ymax AS by1", "cx", "cy")
    pairs = (a.join(bb, ["cx", "cy"]).where("aj < bj")
             .drop("cx", "cy").distinct()
             .where("ax0 <= bx1 AND bx0 <= ax1 AND ay0 <= by1 "
                    "AND by0 <= ay1"))
    return pairs.selectExpr(
        "aj", "bj",
        "ROUND((LEAST(ax1, bx1) - GREATEST(ax0, bx0)) * "
        "(LEAST(ay1, by1) - GREATEST(ay0, by0)), 9) AS overlap_area",
        "CAST((ax0 <= bx0 AND bx1 <= ax1 AND ay0 <= by0 AND by1 <= ay1) "
        "OR (bx0 <= ax0 AND ax1 <= bx1 AND by0 <= ay0 AND ay1 <= by1) "
        "AS INT) AS is_containment")


def _oracle_fence_overlap() -> str:
    b = _fence_bbox_sql("j")
    return f"""
WITH f AS (
  SELECT j, {b['xmin']} AS x0, {b['xmax']} AS x1,
         {b['ymin']} AS y0, {b['ymax']} AS y1
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {FOV_M - 1})) AS j) t)
SELECT a.j AS aj, b.j AS bj,
       ROUND((LEAST(a.x1, b.x1) - GREATEST(a.x0, b.x0)) *
             (LEAST(a.y1, b.y1) - GREATEST(a.y0, b.y0)), 9)
         AS overlap_area,
       CAST((a.x0 <= b.x0 AND b.x1 <= a.x1 AND a.y0 <= b.y0
             AND b.y1 <= a.y1)
         OR (b.x0 <= a.x0 AND a.x1 <= b.x1 AND b.y0 <= a.y0
             AND a.y1 <= b.y1) AS INT) AS is_containment
FROM f a JOIN f b
  ON a.j < b.j AND a.x0 <= b.x1 AND b.x0 <= a.x1
 AND a.y0 <= b.y1 AND b.y0 <= a.y1
"""


QUERIES.update({
    "fence_overlap_pairs": (q_fence_overlap_pairs, _oracle_fence_overlap()),
})


# --- rect_union_area: Klee's union of rectangles (sweep by coordinate slabs) ----
#
# Overlay stage 2 after fence_overlap_pairs: the TOTAL footprint area of
# the fence layer's outer rings (double-counting removed) — the
# coverage-accounting primitive (service-area totals, dedup of mosaic
# footprints).  Classic computational-geometry sweep, expressed
# relationally: distinct x coordinates cut the plane into vertical slabs,
# a rect joins every slab it spans, and per slab the covered y-length is
# an interval union — the SAME gaps-and-islands as interval_coverage, on
# floats.  At 10^12 polygons the slab join is grid-partitioned first (one
# sweep per grid stripe); at the fixture's 64 rects the plan is a tiny
# broadcast theta-join.  Float sums over ~10^2 slabs are order-noisy at
# 1e-13 — round-6 output per the repo rule.


def q_rect_union_area(spark, sf_dir):
    b = _fence_bbox_sql("id")
    f = spark.range(0, FOV_M).selectExpr(
        "id AS j", f"{b['xmin']} AS x0", f"{b['xmax']} AS x1",
        f"{b['ymin']} AS y0", f"{b['ymax']} AS y1").localCheckpoint()
    xs = (f.selectExpr("x0 AS x").union(f.selectExpr("x1 AS x")).distinct()
          .selectExpr("x", "LEAD(x) OVER (ORDER BY x) AS xn")
          .where("xn IS NOT NULL"))
    sr = (xs.join(f, (F.col("x0") <= F.col("x")) & (F.col("x1") >= F.col("xn")))
          .selectExpr("x", "xn", "j", "y0", "y1"))
    w = "PARTITION BY x ORDER BY y0, j"
    isl = sr.selectExpr(
        "x", "xn", "y0", "y1", "j",
        f"MAX(y1) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 "
        "PRECEDING) AS prev_end").selectExpr(
        "x", "xn", "y0", "y1", "j",
        "CASE WHEN prev_end IS NULL OR y0 > prev_end THEN 1 ELSE 0 END "
        "AS brk").selectExpr(
        "x", "xn", "y0", "y1",
        f"SUM(brk) OVER ({w} ROWS UNBOUNDED PRECEDING) AS isl")
    slab = (isl.groupBy("x", "xn", "isl")
            .agg(F.expr("MAX(y1) - MIN(y0)").alias("ylen"))
            .groupBy("x", "xn")
            .agg(F.expr("SUM(ylen)").alias("ycov")))
    tot = (slab.selectExpr("(xn - x) * ycov AS a")
           .groupBy().agg(F.expr("SUM(a)").alias("union_area"),
                          F.count(F.lit(1)).alias("n_slabs")))
    per = f.groupBy().agg(
        F.expr("SUM((x1 - x0) * (y1 - y0))").alias("sum_area"),
        F.count(F.lit(1)).alias("n_rects"))
    return (per.crossJoin(tot)
            .selectExpr("CAST(n_rects AS BIGINT) AS n_rects",
                        "CAST(n_slabs AS BIGINT) AS n_slabs",
                        "ROUND(union_area, 6) AS union_area",
                        "ROUND(sum_area, 6) AS sum_area",
                        "ROUND(sum_area - union_area, 6) AS overlap_waste"))


def _oracle_rect_union() -> str:
    b = _fence_bbox_sql("j")
    return f"""
WITH f AS (
  SELECT j, {b['xmin']} AS x0, {b['xmax']} AS x1,
         {b['ymin']} AS y0, {b['ymax']} AS y1
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {FOV_M - 1})) AS j) t),
xs0 AS (SELECT DISTINCT x FROM
        (SELECT x0 AS x FROM f UNION ALL SELECT x1 FROM f)),
xs AS (SELECT x, LEAD(x) OVER (ORDER BY x) AS xn FROM xs0
       QUALIFY xn IS NOT NULL),
sr AS (
  SELECT xs.x, xs.xn, f.j, f.y0, f.y1
  FROM xs JOIN f ON f.x0 <= xs.x AND f.x1 >= xs.xn),
isl AS (
  SELECT x, xn, y0, y1,
         SUM(CASE WHEN prev_end IS NULL OR y0 > prev_end THEN 1 ELSE 0
             END) OVER (PARTITION BY x ORDER BY y0, j
                        ROWS UNBOUNDED PRECEDING) AS isl
  FROM (SELECT x, xn, y0, y1, j,
               MAX(y1) OVER (PARTITION BY x ORDER BY y0, j
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev_end
        FROM sr)),
slab AS (
  SELECT x, xn, SUM(ylen) AS ycov
  FROM (SELECT x, xn, isl, MAX(y1) - MIN(y0) AS ylen
        FROM isl GROUP BY 1, 2, 3)
  GROUP BY 1, 2),
tot AS (SELECT SUM((xn - x) * ycov) AS union_area, COUNT(*) AS n_slabs
        FROM slab),
per AS (SELECT SUM((x1 - x0) * (y1 - y0)) AS sum_area, COUNT(*) AS n_rects
        FROM f)
SELECT CAST(per.n_rects AS BIGINT) AS n_rects,
       CAST(tot.n_slabs AS BIGINT) AS n_slabs,
       ROUND(tot.union_area, 6) AS union_area,
       ROUND(per.sum_area, 6) AS sum_area,
       ROUND(per.sum_area - tot.union_area, 6) AS overlap_waste
FROM per, tot
"""


QUERIES.update({
    "rect_union_area": (q_rect_union_area, _oracle_rect_union()),
})


# --- phrase_pmi_mining: collocation mining with greedy non-overlap counts -------
#
# AutoPhrase-style corpus collocation mining: the top adjacent word pairs
# by count, scored with PMI, plus the GREEDY NON-OVERLAPPING occurrence
# count — the number a tokenizer would actually merge ("a a a a" holds 3
# adjacent (a,a) pairs but only 2 greedy merges).  Greedy counting is
# relational: within each (doc, pair), consecutive matching positions form
# islands and an island of length L yields FLOOR((L+1)/2) merges —
# left-to-right greedy, exactly.  PMI's LN sits under the round-6 rule;
# every count is exact int64.

PMI_TOPK = 20


def q_phrase_pmi_mining(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.zip_with(F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    pos = (d.select("doc_id", F.posexplode(bigrams).alias("p0", "bg"))
           .selectExpr("doc_id", "p0 + 1 AS pos", "bg"))
    uni = (d.select(F.explode(toks).alias("tok"))
           .groupBy("tok").agg(F.count(F.lit(1)).alias("cu")))
    tot = uni.groupBy().agg(F.sum("cu").alias("nt"))
    cb = pos.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"),
                               F.countDistinct("doc_id").alias("n_docs"))
    nb = cb.groupBy().agg(F.sum("cb").alias("nb"))
    top = (cb.orderBy(F.desc("cb"), "bg").limit(PMI_TOPK)
           .withColumn("w1", F.split("bg", " ")[0])
           .withColumn("w2", F.split("bg", " ")[1]))
    # greedy non-overlap: islands of consecutive matching positions
    tp = top.select("bg")
    isl = (pos.join(F.broadcast(tp), "bg")
           .selectExpr("bg", "doc_id", "pos",
                       "LAG(pos) OVER (PARTITION BY bg, doc_id "
                       "ORDER BY pos) AS prev")
           .selectExpr("bg", "doc_id", "pos",
                       "CASE WHEN prev IS NULL OR pos - prev > 1 THEN 1 "
                       "ELSE 0 END AS brk")
           .selectExpr("bg", "doc_id", "pos",
                       "SUM(brk) OVER (PARTITION BY bg, doc_id ORDER BY "
                       "pos ROWS UNBOUNDED PRECEDING) AS isl"))
    greedy = (isl.groupBy("bg", "doc_id", "isl")
              .agg(F.count(F.lit(1)).alias("len"))
              .selectExpr("bg",
                          "CAST(FLOOR((len + 1) / 2.0) AS BIGINT) AS g")
              .groupBy("bg").agg(F.sum("g").alias("greedy_count")))
    u1 = uni.selectExpr("tok AS w1", "cu AS cu1")
    u2 = uni.selectExpr("tok AS w2", "cu AS cu2")
    return (top.join(F.broadcast(u1), "w1").join(F.broadcast(u2), "w2")
            .join(greedy, "bg").crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(nb))
            .selectExpr(
                "bg AS bigram", "CAST(cb AS BIGINT) AS n_adjacent",
                "CAST(greedy_count AS BIGINT) AS n_greedy",
                "CAST(n_docs AS BIGINT) AS n_docs",
                "ROUND(LN((CAST(cb AS DOUBLE) / nb) / "
                "((CAST(cu1 AS DOUBLE) / nt) * "
                "(CAST(cu2 AS DOUBLE) / nt))), 6) AS pmi"))


ORACLE_PMI = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
pos AS (SELECT doc_id, u.i AS pos, ts[u.i] || ' ' || ts[u.i + 1] AS bg
        FROM toks, UNNEST(range(1, len(ts))) AS u(i)),
uni AS (SELECT ts[u.i] AS tok, COUNT(*) AS cu
        FROM toks, UNNEST(range(1, len(ts) + 1)) AS u(i) GROUP BY 1),
tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS nt FROM uni),
cb AS (SELECT bg, COUNT(*) AS cb, COUNT(DISTINCT doc_id) AS n_docs
       FROM pos GROUP BY 1),
nb AS (SELECT CAST(SUM(cb) AS BIGINT) AS nb FROM cb),
top AS (SELECT bg, cb, n_docs,
               string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
        FROM cb ORDER BY cb DESC, bg LIMIT {PMI_TOPK}),
isl AS (
  SELECT bg, doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY bg, doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS isl
  FROM (SELECT p.bg, p.doc_id, p.pos,
               LAG(p.pos) OVER (PARTITION BY p.bg, p.doc_id
                                ORDER BY p.pos) AS prev
        FROM pos p JOIN top t ON p.bg = t.bg)),
greedy AS (
  SELECT bg, CAST(SUM(g) AS BIGINT) AS greedy_count
  FROM (SELECT bg, doc_id, isl,
               CAST(FLOOR((COUNT(*) + 1) / 2.0) AS BIGINT) AS g
        FROM isl GROUP BY 1, 2, 3)
  GROUP BY 1)
SELECT t.bg AS bigram, CAST(t.cb AS BIGINT) AS n_adjacent,
       g.greedy_count AS n_greedy, CAST(t.n_docs AS BIGINT) AS n_docs,
       ROUND(LN((CAST(t.cb AS DOUBLE) / nb.nb) /
                ((CAST(u1.cu AS DOUBLE) / tot.nt) *
                 (CAST(u2.cu AS DOUBLE) / tot.nt))), 6) AS pmi
FROM top t
JOIN uni u1 ON u1.tok = t.w1
JOIN uni u2 ON u2.tok = t.w2
JOIN greedy g ON g.bg = t.bg, tot, nb
"""


QUERIES.update({
    "phrase_pmi_mining": (q_phrase_pmi_mining, ORACLE_PMI),
})


# --- event_lag_correlation: lead-lag cross-correlation of event streams ---------
#
# The signal-processing op of product analytics (does `view` activity lead
# `purchase` activity, and by how many hours?): Pearson correlation between
# the hourly count series of two event types at lags 0..MAX_LAG.  Counts
# are exact int64, every moment (sums, cross-products) is an exact int64
# aggregate, and the correlation composes them in ONE literal float
# expression — bit-deterministic at any aggregation order, same rule as
# spatial_autocorr.  Scale shape: one hour-keyed count agg, then a
# MAX_LAG-way broadcast of the tiny series against itself (hour+lag
# equi-join).

LAG_MAX = 3
LAG_A, LAG_B = "view", "purchase"


def q_event_lag_correlation(spark, sf_dir):
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) "
        "/ 3600000000.0) AS BIGINT) AS h")
    cnt = (e.where(f"event_type IN ('{LAG_A}', '{LAG_B}')")
           .groupBy("h", "event_type").agg(F.count(F.lit(1)).alias("c")))
    a = cnt.where(f"event_type = '{LAG_A}'").selectExpr("h", "c AS ca")
    b = cnt.where(f"event_type = '{LAG_B}'").selectExpr("h AS hb",
                                                        "c AS cb")
    lags = a.selectExpr("h", "ca",
                        f"explode(sequence(0, {LAG_MAX})) AS lag")
    j = lags.join(F.broadcast(b),
                  F.expr("hb = h + lag")).drop("hb")
    m = (j.groupBy("lag")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("ca").alias("sx"), F.sum("cb").alias("sy"),
              F.expr("SUM(ca * ca)").alias("sxx"),
              F.expr("SUM(cb * cb)").alias("syy"),
              F.expr("SUM(ca * cb)").alias("sxy")))
    return m.selectExpr(
        "CAST(lag AS BIGINT) AS lag", "CAST(n AS BIGINT) AS n_hours",
        "CAST(sxy AS BIGINT) AS sxy",
        "ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / "
        "SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * "
        "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) "
        "AS pearson_r")


ORACLE_LAG_CORR = f"""
WITH e AS (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS h
  FROM events WHERE event_type IN ('{LAG_A}', '{LAG_B}')),
cnt AS (SELECT h, event_type, COUNT(*) AS c FROM e GROUP BY 1, 2),
a AS (SELECT h, c AS ca FROM cnt WHERE event_type = '{LAG_A}'),
b AS (SELECT h AS hb, c AS cb FROM cnt WHERE event_type = '{LAG_B}'),
j AS (
  SELECT lag, a.ca, b.cb
  FROM a, (SELECT UNNEST(GENERATE_SERIES(0, {LAG_MAX})) AS lag) l
  JOIN b ON b.hb = a.h + lag),
m AS (
  SELECT lag, COUNT(*) AS n, SUM(ca) AS sx, SUM(cb) AS sy,
         SUM(ca * ca) AS sxx, SUM(cb * cb) AS syy, SUM(ca * cb) AS sxy
  FROM j GROUP BY 1)
SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_hours,
       CAST(sxy AS BIGINT) AS sxy,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
             SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                  (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
         AS pearson_r
FROM m
"""


QUERIES.update({
    "event_lag_correlation": (q_event_lag_correlation, ORACLE_LAG_CORR),
})


# --- sequence_motifs: per-user event-type trigram mining -------------------------
#
# Sequence mining one step past markov_transitions' pairs: the most common
# event-type TRIGRAMS across user timelines (the "view->click->purchase"
# funnel motifs).  Two lag windows over the same user-keyed sort (one
# exchange), exact integer counts, total-ordered top-K.

MOTIF_TOPK = 15


def q_sequence_motifs(spark, sf_dir):
    e = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id", "event_type",
        "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us")
    w = "PARTITION BY user_id ORDER BY us, event_id"
    tri = e.selectExpr(
        "user_id", "event_type AS c",
        f"LAG(event_type, 2) OVER ({w}) AS a",
        f"LAG(event_type, 1) OVER ({w}) AS b").where("a IS NOT NULL")
    return (tri.groupBy("a", "b", "c")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("user_id").alias("n_users"))
            .orderBy(F.desc("n"), "a", "b", "c").limit(MOTIF_TOPK)
            .selectExpr("a", "b", "c", "CAST(n AS BIGINT) AS n",
                        "CAST(n_users AS BIGINT) AS n_users"))


ORACLE_MOTIFS = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
tri AS (
  SELECT user_id, event_type AS c,
         LAG(event_type, 2) OVER w AS a, LAG(event_type, 1) OVER w AS b
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM tri WHERE a IS NOT NULL
GROUP BY 1, 2, 3 ORDER BY n DESC, a, b, c LIMIT {MOTIF_TOPK}
"""


# --- outlier_audit: Tukey-fence outlier detection per group ----------------------
#
# The data-QA staple: per order-priority group, quartiles of the price
# distribution and the count of Tukey outliers (outside [Q1-1.5*IQR,
# Q3+1.5*IQR]).  Quartile semantics differ subtly between engines'
# percentile builtins, so the quartiles come from EXPLICIT ranks over
# integer cents — Q1 = value at rank CEIL(n/4), Q3 at rank CEIL(3n/4),
# deterministic and identical by construction; fences stay exact integers
# (x4 scaling instead of the 1.5 float multiplier).

def q_outlier_audit(spark, sf_dir):
    # Two-phase exact quantile instead of a per-group rank window: benching
    # the rank formulation at 100M rows measured 0.88M rows/s because the
    # window serializes each group into ONE task (5 groups = parallelism
    # 5).  Phase A histograms cents into 2^14-wide buckets (map-side
    # combinable; the cumulative window runs over the TINY aggregate), and
    # phase B counts exact cents only inside each target bucket.  The
    # element found at rank CEIL(n/4) / CEIL(3n/4) is identical to the
    # rank-window's, so the (rank-based) oracle is unchanged.
    # three passes re-read the (column-pruned) parquet rather than
    # localCheckpoint-ing: materializing 100M rows costs more than two
    # extra 2-column scans (measured 40.4 s -> see BENCH/MINING.json)
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS grp",
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents")
    targets = (o.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
               .selectExpr("grp", "explode(array(named_struct("
                           "'which', 'q1', 'r', CAST(CEIL(n / 4.0) AS "
                           "BIGINT)), named_struct('which', 'q3', 'r', "
                           "CAST(CEIL(3.0 * n / 4.0) AS BIGINT)))) AS t")
               .selectExpr("grp", "t.which AS which", "t.r AS r"))
    h = (o.selectExpr("grp", "CAST(FLOOR(cents / 16384.0) AS BIGINT) "
                      "AS bucket")
         .groupBy("grp", "bucket").agg(F.count(F.lit(1)).alias("c")))
    cum = h.selectExpr(
        "grp", "bucket", "c",
        "SUM(c) OVER (PARTITION BY grp ORDER BY bucket "
        "ROWS UNBOUNDED PRECEDING) AS cm").selectExpr(
        "grp", "bucket", "cm - c AS prev", "cm")
    pick = (targets.join(cum, "grp")
            .where("prev < r AND cm >= r")
            .selectExpr("grp", "which", "bucket", "r - prev AS off"))
    inb = (o.selectExpr("grp", "cents",
                        "CAST(FLOOR(cents / 16384.0) AS BIGINT) AS bucket")
           .join(F.broadcast(pick), ["grp", "bucket"])
           .groupBy("grp", "which", "off", "cents")
           .agg(F.count(F.lit(1)).alias("c")))
    val = inb.selectExpr(
        "grp", "which", "off", "cents", "c",
        "SUM(c) OVER (PARTITION BY grp, which ORDER BY cents "
        "ROWS UNBOUNDED PRECEDING) AS cm").where(
        "cm - c < off AND cm >= off")
    q = (val.groupBy("grp")
         .agg(F.expr("MIN(CASE WHEN which = 'q1' THEN cents END)")
              .alias("q1"),
              F.expr("MIN(CASE WHEN which = 'q3' THEN cents END)")
              .alias("q3")))
    # fences scaled x4: lo = 4*q1*... keep integers: x outside iff
    # 4x < 4q1 - 6(q3-q1) or 4x > 4q3 + 6(q3-q1)
    j = o.join(F.broadcast(q), "grp")
    return (j.groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("q1").alias("q1_cents"),
                 F.max("q3").alias("q3_cents"),
                 F.expr("SUM(CASE WHEN 4 * cents < 4 * q1 - 6 * (q3 - q1) "
                        "OR 4 * cents > 4 * q3 + 6 * (q3 - q1) "
                        "THEN 1 ELSE 0 END)").alias("n_outliers"))
            .selectExpr("grp", "CAST(n_rows AS BIGINT) AS n_rows",
                        "CAST(q1_cents AS BIGINT) AS q1_cents",
                        "CAST(q3_cents AS BIGINT) AS q3_cents",
                        "CAST(n_outliers AS BIGINT) AS n_outliers"))


ORACLE_OUTLIERS = """
WITH o AS (
  SELECT o_orderpriority AS grp, o_orderkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
r AS (
  SELECT grp, cents,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cents, o_orderkey)
           AS rk,
         COUNT(*) OVER (PARTITION BY grp) AS n
  FROM o),
q AS (
  SELECT grp, MIN(cents) AS q1, MAX(cents) AS q3
  FROM r WHERE rk = CAST(CEIL(n / 4.0) AS BIGINT)
          OR rk = CAST(CEIL(3.0 * n / 4.0) AS BIGINT)
  GROUP BY 1)
SELECT o.grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(q.q1) AS BIGINT) AS q1_cents,
       CAST(MAX(q.q3) AS BIGINT) AS q3_cents,
       CAST(SUM(CASE WHEN 4 * cents < 4 * q.q1 - 6 * (q.q3 - q.q1)
                OR 4 * cents > 4 * q.q3 + 6 * (q.q3 - q.q1)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM o JOIN q ON o.grp = q.grp GROUP BY 1
"""


QUERIES.update({
    "sequence_motifs": (q_sequence_motifs, ORACLE_MOTIFS),
    "outlier_audit": (q_outlier_audit, ORACLE_OUTLIERS),
})


# --- knox_spacetime: space-time interaction test ---------------------------------
#
# The Knox statistic (epidemiology / crime analytics): do events cluster
# in space AND time together, beyond what their separate space and time
# clusterings imply?  Observed = pairs close in both; expected under
# independence = n_space * n_time / n_pairs; ratio > 1 = interaction.
# All three pair counts come from BUCKETED equi-joins (cell ring for
# space, bucket ring for time — bucket width >= threshold, so a 3-ring
# provably contains every qualifying pair); counts are exact int64 and
# the ratio is one literal float expression.  pytest brute-forces all
# pairs at sf0.001 to prove the bucket joins lossless.

KNOX_TYPE = "purchase"
KNOX_DEG = 2.0                  # Chebyshev degrees
KNOX_US = 6 * 3600 * 1000000    # 6 hours
KNOX_CELL = 6                   # lon 5.6deg / lat 2.66deg >= threshold
KNOX_TBUCKET = KNOX_US          # bucket width == threshold


def q_knox_spacetime(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, KNOX_CELL)
    e = (_t(spark, sf_dir, "events")
         .where(f"event_type = '{KNOX_TYPE}'")
         .selectExpr("event_id",
                     f"{fixtures.EVENT_LON_SQL} AS lon",
                     f"{fixtures.EVENT_LAT_SQL} AS lat",
                     "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us",
                     f"{ix} AS cx", f"{iy} AS cy",
                     f"CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) "
                     f"/ {float(KNOX_TBUCKET)!r}) AS BIGINT) AS tb")
         .localCheckpoint())

    sp = (f"ABS(a_lon - lon) <= {KNOX_DEG!r} AND "
          f"ABS(a_lat - lat) <= {KNOX_DEG!r}")
    tm = f"ABS(a_us - us) <= {KNOX_US}"

    # space key: 3x3 cell ring via two explodes; time rides as predicate
    a = e.selectExpr("event_id AS a_id", "lon AS a_lon", "lat AS a_lat",
                     "us AS a_us", "explode(sequence(cx - 1, cx + 1)) AS jx",
                     "cy AS acy")
    a = a.selectExpr("a_id", "a_lon", "a_lat", "a_us", "jx",
                     "explode(sequence(acy - 1, acy + 1)) AS jy")
    b = e.selectExpr("event_id", "lon", "lat", "us", "cx AS jx", "cy AS jy")
    sp_pairs = (a.join(b, ["jx", "jy"])
                .where(f"a_id < event_id AND {sp}")
                .select("a_id", "event_id", "a_us", "us").distinct())
    n_s = sp_pairs.groupBy().agg(F.count(F.lit(1)).alias("n_space"))
    n_st = (sp_pairs.where(tm)
            .groupBy().agg(F.count(F.lit(1)).alias("n_both")))
    # time pairs: +-1 time-bucket ring
    ta = e.selectExpr("event_id AS a_id", "us AS a_us",
                      "explode(sequence(tb - 1, tb + 1)) AS jt")
    tb_ = e.selectExpr("event_id", "us", "tb AS jt")
    n_t = (ta.join(tb_, "jt").where(f"a_id < event_id AND {tm}")
           .select("a_id", "event_id").distinct()
           .groupBy().agg(F.count(F.lit(1)).alias("n_time")))
    n = e.groupBy().agg(F.count(F.lit(1)).alias("n_events"))
    return (n.crossJoin(n_s).crossJoin(n_t).crossJoin(n_st)
            .selectExpr(
                "CAST(n_events AS BIGINT) AS n_events",
                "CAST(n_space AS BIGINT) AS n_space",
                "CAST(n_time AS BIGINT) AS n_time",
                "CAST(n_both AS BIGINT) AS n_both",
                "ROUND(CAST(n_both AS DOUBLE) / "
                "((CAST(n_space AS DOUBLE) * n_time) / "
                "(CAST(n_events AS DOUBLE) * (n_events - 1) / 2.0)), 6) "
                "AS knox_ratio"))


def _oracle_knox() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, KNOX_CELL)
    return f"""
WITH e AS (
  SELECT event_id, {fixtures.EVENT_LON_SQL} AS lon,
         {fixtures.EVENT_LAT_SQL} AS lat, epoch_us(ts) AS us,
         {ix} AS cx, {iy} AS cy,
         CAST(FLOOR(epoch_us(ts) / {float(KNOX_TBUCKET)!r}) AS BIGINT) AS tb
  FROM events WHERE event_type = '{KNOX_TYPE}'),
sp AS (
  SELECT DISTINCT a.event_id AS a_id, b.event_id AS b_id,
         a.us AS a_us, b.us AS b_us
  FROM (SELECT e.*, cx + dx.d AS jx, cy + dy.d AS jy
        FROM e, (SELECT UNNEST([-1, 0, 1]) AS d) dx,
                (SELECT UNNEST([-1, 0, 1]) AS d) dy) a
  JOIN e b ON b.cx = a.jx AND b.cy = a.jy AND a.event_id < b.event_id
  WHERE ABS(a.lon - b.lon) <= {KNOX_DEG!r}
    AND ABS(a.lat - b.lat) <= {KNOX_DEG!r}),
tp AS (
  SELECT DISTINCT a.event_id AS a_id, b.event_id AS b_id
  FROM (SELECT e.*, tb + dt.d AS jt
        FROM e, (SELECT UNNEST([-1, 0, 1]) AS d) dt) a
  JOIN e b ON b.tb = a.jt AND a.event_id < b.event_id
  WHERE ABS(a.us - b.us) <= {KNOX_US}),
c AS (
  SELECT (SELECT COUNT(*) FROM e) AS n_events,
         (SELECT COUNT(*) FROM sp) AS n_space,
         (SELECT COUNT(*) FROM tp) AS n_time,
         (SELECT COUNT(*) FROM sp
          WHERE ABS(a_us - b_us) <= {KNOX_US}) AS n_both)
SELECT CAST(n_events AS BIGINT) AS n_events,
       CAST(n_space AS BIGINT) AS n_space,
       CAST(n_time AS BIGINT) AS n_time,
       CAST(n_both AS BIGINT) AS n_both,
       ROUND(CAST(n_both AS DOUBLE) /
             ((CAST(n_space AS DOUBLE) * n_time) /
              (CAST(n_events AS DOUBLE) * (n_events - 1) / 2.0)), 6)
         AS knox_ratio
FROM c
"""


QUERIES.update({
    "knox_spacetime": (q_knox_spacetime, _oracle_knox()),
})


# --- trend_regression: per-group OLS from exact integer moments ------------------
#
# Closed-form least squares of hourly activity value against time, per
# event type — the trend-detection primitive (is purchase value drifting
# up?).  x = hour index (int), y = summed cents (int): every moment
# (n, Sx, Sy, Sxx, Sxy, Syy) is an exact int64 aggregate; slope,
# intercept and R^2 compose them in literal float expressions — the
# spatial_autocorr determinism rule.  One hour-keyed count agg + one tiny
# group agg.


def q_trend_regression(spark, sf_dir):
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type AS g",
        "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) "
        "/ 3600000000.0) AS BIGINT) AS h",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc")
    hourly = (e.groupBy("g", "h").agg(F.sum("vc").alias("y"))
              .selectExpr("g", "h", "y"))
    base = hourly.groupBy("g").agg(F.min("h").alias("h0"))
    m = (hourly.join(F.broadcast(base), "g")
         .selectExpr("g", "h - h0 AS x", "y")
         .groupBy("g")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.expr("SUM(x * x)").alias("sxx"),
              F.expr("SUM(x * y)").alias("sxy"),
              # y is an hourly cents SUM (~1e8 at 100M rows), so y*y needs
              # the DECIMAL accumulator — int64 overflowed in the 100M bench
              F.expr("SUM(CAST(y AS DECIMAL(38, 0)) * y)").alias("syy")))
    return m.selectExpr(
        "g", "CAST(n AS BIGINT) AS n_hours",
        "ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / "
        "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) "
        "AS slope_cents_per_hour",
        "ROUND((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * sxy - "
        "CAST(sx AS DOUBLE) * sy) / (CAST(n AS DOUBLE) * sxx - "
        "CAST(sx AS DOUBLE) * sx)) * sx) / n, 6) AS intercept_cents",
        "ROUND(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) * "
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) / "
        "((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * "
        "(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) "
        "AS r_squared")


ORACLE_TREND = """
WITH e AS (
  SELECT event_type AS g,
         CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS h,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events),
hourly AS (SELECT g, h, SUM(vc) AS y FROM e GROUP BY 1, 2),
base AS (SELECT g, MIN(h) AS h0 FROM hourly GROUP BY 1),
m AS (
  SELECT hourly.g, COUNT(*) AS n, SUM(h - h0) AS sx, SUM(y) AS sy,
         SUM((h - h0) * (h - h0)) AS sxx, SUM((h - h0) * y) AS sxy,
         SUM(CAST(y AS DECIMAL(38, 0)) * y) AS syy
  FROM hourly JOIN base ON hourly.g = base.g GROUP BY 1)
SELECT g, CAST(n AS BIGINT) AS n_hours,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
             (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
         AS slope_cents_per_hour,
       ROUND((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * sxy -
             CAST(sx AS DOUBLE) * sy) / (CAST(n AS DOUBLE) * sxx -
             CAST(sx AS DOUBLE) * sx)) * sx) / n, 6) AS intercept_cents,
       ROUND(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) *
              (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)) /
             ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
              (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
         AS r_squared
FROM m
"""


# --- gini_concentration: inequality / skew audit ----------------------------------
#
# The workload-skew and contribution-inequality metric (what share of
# events do the heaviest users generate?): Gini coefficient of per-user
# event counts, G = (2 * SUM(i * x_i)) / (n * SUM(x)) - (n + 1) / n over
# counts sorted ascending.  The rank window runs over the per-user
# AGGREGATE (never the fact table), rank ties break on user_id so the
# i*x_i sum is identical on any engine, and every aggregate is exact
# int64 — G is one literal float expression.  Top-decile share rides the
# same aggregate.


def q_gini_concentration(spark, sf_dir):
    per_user = (_t(spark, sf_dir, "events")
                .groupBy("user_id").agg(F.count(F.lit(1)).alias("x")))
    r = per_user.selectExpr(
        "user_id", "x",
        "ROW_NUMBER() OVER (ORDER BY x, user_id) AS i",
        "COUNT(*) OVER () AS n")
    m = r.groupBy().agg(
        F.max("n").alias("n"),
        F.sum("x").alias("sx"),
        F.expr("SUM(i * x)").alias("six"),
        F.expr("SUM(CASE WHEN i > n - CAST(FLOOR(n / 10.0) AS BIGINT) "
               "THEN x ELSE 0 END)").alias("top_decile"))
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_users",
        "CAST(sx AS BIGINT) AS n_events",
        "ROUND((2.0 * six) / (CAST(n AS DOUBLE) * sx) - "
        "(CAST(n AS DOUBLE) + 1.0) / n, 6) AS gini",
        "ROUND(CAST(top_decile AS DOUBLE) / sx, 6) AS top_decile_share")


ORACLE_GINI = """
WITH per_user AS (
  SELECT user_id, COUNT(*) AS x FROM events GROUP BY 1),
r AS (
  SELECT user_id, x, ROW_NUMBER() OVER (ORDER BY x, user_id) AS i,
         COUNT(*) OVER () AS n
  FROM per_user),
m AS (
  SELECT MAX(n) AS n, SUM(x) AS sx, SUM(i * x) AS six,
         SUM(CASE WHEN i > n - CAST(FLOOR(n / 10.0) AS BIGINT)
             THEN x ELSE 0 END) AS top_decile
  FROM r)
SELECT CAST(n AS BIGINT) AS n_users, CAST(sx AS BIGINT) AS n_events,
       ROUND((2.0 * six) / (CAST(n AS DOUBLE) * sx) -
             (CAST(n AS DOUBLE) + 1.0) / n, 6) AS gini,
       ROUND(CAST(top_decile AS DOUBLE) / sx, 6) AS top_decile_share
FROM m
"""


QUERIES.update({
    "trend_regression": (q_trend_regression, ORACLE_TREND),
    "gini_concentration": (q_gini_concentration, ORACLE_GINI),
})


# --- changepoint_detect: exact-integer CUSUM change-point ------------------------
#
# Change detection over each event type's hourly count series: the
# classic CUSUM statistic max_k |S_k - k*Sn/n| located WITHOUT any float —
# scaling by n gives |n*S_k - k*Sn|, an exact int64, so the argmax hour
# and the statistic are bit-deterministic (ties break on the earlier
# hour).  One hour-keyed count agg + one group-keyed running-sum window
# over the TINY hourly aggregate; the normalized score is one literal
# float division at the end.


def q_changepoint_detect(spark, sf_dir):
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type AS g",
        "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) "
        "/ 3600000000.0) AS BIGINT) AS h")
    hourly = e.groupBy("g", "h").agg(F.count(F.lit(1)).alias("c"))
    w = "PARTITION BY g ORDER BY h"
    run = hourly.selectExpr(
        "g", "h", "c",
        f"SUM(c) OVER ({w} ROWS UNBOUNDED PRECEDING) AS sk",
        f"ROW_NUMBER() OVER ({w}) AS k",
        "SUM(c) OVER (PARTITION BY g) AS sn",
        "COUNT(*) OVER (PARTITION BY g) AS n")
    # tiebreak (max d, then EARLIER hour) packed into ONE int64 key:
    # d * 2^20 - h is unique per group (h < 2^20 hours since epoch) and
    # both engines' max_by take a plain integer ordering value — DuckDB
    # rejects struct keys and widens the n*sk product to HUGEINT, so d is
    # explicitly cast back (products bounded ~1e9 here; DECIMAL at 1e12)
    dev = run.selectExpr("g", "h", "k", "n", "sn",
                         "CAST(ABS(n * sk - k * sn) AS BIGINT) AS d")
    best = (dev.groupBy("g")
            .agg(F.expr("MAX_BY(h, d * 1048576 - h)").alias("change_hour"),
                 F.max("d").alias("d"),
                 F.max("n").alias("n_hours"), F.max("sn").alias("n_events")))
    return best.selectExpr(
        "g", "CAST(change_hour AS BIGINT) AS change_hour",
        "CAST(d AS BIGINT) AS cusum_scaled",
        "CAST(n_hours AS BIGINT) AS n_hours",
        "CAST(n_events AS BIGINT) AS n_events",
        "ROUND(CAST(d AS DOUBLE) / (CAST(n_hours AS DOUBLE) * n_events), "
        "6) AS cusum_norm")


ORACLE_CHANGEPOINT = """
WITH e AS (
  SELECT event_type AS g,
         CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS h
  FROM events),
hourly AS (SELECT g, h, COUNT(*) AS c FROM e GROUP BY 1, 2),
run AS (
  SELECT g, h, c,
         SUM(c) OVER (PARTITION BY g ORDER BY h
                      ROWS UNBOUNDED PRECEDING) AS sk,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS k,
         SUM(c) OVER (PARTITION BY g) AS sn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM hourly),
dev AS (SELECT g, h, k, n, sn,
               CAST(ABS(n * sk - k * sn) AS BIGINT) AS d FROM run),
best AS (
  SELECT g, MAX_BY(h, d * 1048576 - h) AS change_hour, MAX(d) AS d,
         MAX(n) AS n_hours, MAX(sn) AS n_events
  FROM dev GROUP BY 1)
SELECT g, CAST(change_hour AS BIGINT) AS change_hour,
       CAST(d AS BIGINT) AS cusum_scaled,
       CAST(n_hours AS BIGINT) AS n_hours,
       CAST(n_events AS BIGINT) AS n_events,
       ROUND(CAST(d AS DOUBLE) / (CAST(n_hours AS DOUBLE) * n_events), 6)
         AS cusum_norm
FROM best
"""


QUERIES.update({
    "changepoint_detect": (q_changepoint_detect, ORACLE_CHANGEPOINT),
})


# --- slope_aspect_raster: Horn gradients on the density grid ----------------------
#
# The terrain-analysis pair (slope/aspect, Horn 1981 — the standard GIS
# 3x3 kernel) applied to the event-density raster: gx = (NE+2E+SE) -
# (NW+2W+SW), gy likewise, expressed as ONE constant 3x3 scatter explode +
# one target-cell aggregation (the focal_density pattern with SIGNED
# weights).  Counts are integers so the gradients and slope^2 = gx^2+gy^2
# are exact int64; aspect reuses the sign/|dx|-vs-|dy| octant bucket (no
# trig).  Cells outside the occupied set contribute 0 — identical on both
# engines by construction.

SLOPE_LEVEL = 6


def q_slope_aspect_raster(spark, sf_dir):
    from .queries_analytics import _octant_sql
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, SLOPE_LEVEL)
    occ = (_t(spark, sf_dir, "events")
           .selectExpr(f"{ix} AS cx", f"{iy} AS cy")
           .groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("c")))
    # scatter each cell's count to its 3x3 neighborhood with Horn weights
    sc = (occ.selectExpr("cx", "cy", "c",
                         "explode(sequence(-1, 1)) AS dx")
          .selectExpr("cx", "cy", "c", "dx",
                      "explode(sequence(-1, 1)) AS dy")
          .selectExpr("cx + dx AS tx", "cy + dy AS ty",
                      # neighbor at offset (dx,dy) from target: the
                      # SOURCE sits at (-dx,-dy) relative to the target,
                      # so weights flip sign
                      "c * (-dx) * (2 - ABS(dy)) AS gxc",
                      "c * (-dy) * (2 - ABS(dx)) AS gyc",
                      "CAST(dx = 0 AND dy = 0 AS INT) AS is_center"))
    g = (sc.groupBy("tx", "ty")
         .agg(F.expr("SUM(gxc)").alias("gx"),
              F.expr("SUM(gyc)").alias("gy"),
              F.expr("SUM(is_center)").alias("occupied"))
         .where("occupied = 1"))
    oct_ = _octant_sql("gx", "gy")
    return (g.selectExpr(
        "gx", "gy",
        f"CASE WHEN gx = 0 AND gy = 0 THEN -1 ELSE {oct_} END AS aspect",
        "gx * gx + gy * gy AS slope2")
        .groupBy("aspect")
        .agg(F.count(F.lit(1)).alias("n_cells"),
             F.sum("slope2").alias("sum_slope2"),
             F.max("slope2").alias("max_slope2"))
        .selectExpr("CAST(aspect AS INT) AS aspect",
                    "CAST(n_cells AS BIGINT) AS n_cells",
                    "CAST(sum_slope2 AS BIGINT) AS sum_slope2",
                    "CAST(max_slope2 AS BIGINT) AS max_slope2"))


def _oracle_slope_aspect() -> str:
    from .queries_analytics import _octant_sql
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, SLOPE_LEVEL)
    oct_ = _octant_sql("gx", "gy")
    return f"""
WITH occ AS (
  SELECT {ix} AS cx, {iy} AS cy, COUNT(*) AS c FROM events GROUP BY 1, 2),
sc AS (
  SELECT cx + dx.d AS tx, cy + dy.d AS ty,
         c * (-dx.d) * (2 - ABS(dy.d)) AS gxc,
         c * (-dy.d) * (2 - ABS(dx.d)) AS gyc,
         CAST(dx.d = 0 AND dy.d = 0 AS INT) AS is_center
  FROM occ, (SELECT UNNEST([-1, 0, 1]) AS d) dx,
       (SELECT UNNEST([-1, 0, 1]) AS d) dy),
g AS (
  SELECT tx, ty, SUM(gxc) AS gx, SUM(gyc) AS gy
  FROM sc GROUP BY 1, 2
  HAVING SUM(is_center) = 1),
cls AS (
  SELECT gx, gy,
         CASE WHEN gx = 0 AND gy = 0 THEN -1 ELSE {oct_} END AS aspect,
         gx * gx + gy * gy AS slope2
  FROM g)
SELECT CAST(aspect AS INT) AS aspect, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(slope2) AS BIGINT) AS sum_slope2,
       CAST(MAX(slope2) AS BIGINT) AS max_slope2
FROM cls GROUP BY 1
"""


QUERIES.update({
    "slope_aspect_raster": (q_slope_aspect_raster, _oracle_slope_aspect()),
})


# --- wkt_point_ingest: WKT string-geometry interop -------------------------------
#
# The remaining text geometry interchange format next to shp/dbf/zip/
# GeoJSON/WKB: 'POINT (lon lat)' strings parsed back to coordinates by
# regexp extraction.  The WKT is RENDERED from micro-degree integers by
# string surgery (sign + integer part + zero-padded fraction) — never a
# float printf, whose rounding mode differs between java.util.Formatter
# (HALF_UP) and C printf (half-even) — and the parse is regexp_extract +
# CAST AS DOUBLE (correctly-rounded strtod on both engines), so the
# µdeg -> WKT -> µdeg roundtrip is exact and gated per tile.

WKT_LEVEL = 4


def _udeg_sql(v: str) -> str:
    return f"CAST(FLOOR(({v}) * 1000000.0 + 0.5) AS BIGINT)"


def _wkt_render_sql(u: str) -> str:
    """micro-degree int64 -> decimal string with 6 fraction digits."""
    return (f"CONCAT(CASE WHEN ({u}) < 0 THEN '-' ELSE '' END, "
            f"CAST(CAST(FLOOR(ABS({u}) / 1000000.0) AS BIGINT) AS STRING), "
            f"'.', LPAD(CAST(ABS({u}) % 1000000 AS STRING), 6, '0'))")


def q_wkt_point_ingest(spark, sf_dir):
    ulon = _udeg_sql(fixtures.EVENT_LON_SQL)
    ulat = _udeg_sql(fixtures.EVENT_LAT_SQL)
    wkt = (f"CONCAT('POINT (', {_wkt_render_sql('ulon')}, ' ', "
           f"{_wkt_render_sql('ulat')}, ')')")
    src = (_t(spark, sf_dir, "events")
           .selectExpr("event_id", f"{ulon} AS ulon", f"{ulat} AS ulat")
           .selectExpr("event_id", "ulon", "ulat", f"{wkt} AS wkt"))
    # bracket classes, not backslash escapes: Spark SQL string literals
    # consume lone backslashes while DuckDB's don't (the pii_scrub rule)
    pat = r"POINT [(]([-0-9.]+) ([-0-9.]+)[)]"
    parsed = src.selectExpr(
        "event_id", "ulon", "ulat",
        f"CAST(regexp_extract(wkt, '{pat}', 1) AS DOUBLE) AS plon",
        f"CAST(regexp_extract(wkt, '{pat}', 2) AS DOUBLE) AS plat")
    chk = parsed.selectExpr(
        "event_id",
        f"{_udeg_sql('plon')} AS rlon", f"{_udeg_sql('plat')} AS rlat",
        "ulon", "ulat", "plon", "plat")
    ix, iy = cells.quantize_sql("plon / 1.0", "plat / 1.0", WKT_LEVEL)
    return (chk.selectExpr(
        "event_id", "rlon", "rlat", "ulon", "ulat",
        f"({ix}) * {1 << WKT_LEVEL} + ({iy}) AS tile")
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n"),
             F.expr("SUM(CAST(rlon = ulon AND rlat = ulat AS INT))")
             .alias("n_roundtrip_exact"),
             F.sum("rlon").alias("sum_ulon"),
             F.sum("rlat").alias("sum_ulat"))
        .selectExpr("tile", "CAST(n AS BIGINT) AS n",
                    "CAST(n_roundtrip_exact AS BIGINT) AS n_roundtrip_exact",
                    "CAST(sum_ulon AS BIGINT) AS sum_ulon",
                    "CAST(sum_ulat AS BIGINT) AS sum_ulat"))


def _oracle_wkt() -> str:
    ulon = _udeg_sql(fixtures.EVENT_LON_SQL)
    ulat = _udeg_sql(fixtures.EVENT_LAT_SQL)
    wkt = (f"CONCAT('POINT (', {_wkt_render_sql('ulon')}, ' ', "
           f"{_wkt_render_sql('ulat')}, ')')")
    pat = r"POINT \(([-0-9.]+) ([-0-9.]+)\)"
    ix, iy = cells.quantize_sql("plon / 1.0", "plat / 1.0", WKT_LEVEL)
    return f"""
WITH src AS (
  SELECT event_id, {ulon} AS ulon, {ulat} AS ulat FROM events),
w AS (SELECT event_id, ulon, ulat, {wkt} AS wkt FROM src),
parsed AS (
  SELECT event_id, ulon, ulat,
         CAST(regexp_extract(wkt, 'POINT [(]([-0-9.]+) ([-0-9.]+)[)]', 1)
              AS DOUBLE) AS plon,
         CAST(regexp_extract(wkt, 'POINT [(]([-0-9.]+) ([-0-9.]+)[)]', 2)
              AS DOUBLE) AS plat
  FROM w),
chk AS (
  SELECT event_id, ulon, ulat, plon, plat,
         {_udeg_sql('plon')} AS rlon, {_udeg_sql('plat')} AS rlat
  FROM parsed)
SELECT ({ix}) * {1 << WKT_LEVEL} + ({iy}) AS tile,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(rlon = ulon AND rlat = ulat AS INT)) AS BIGINT)
         AS n_roundtrip_exact,
       CAST(SUM(rlon) AS BIGINT) AS sum_ulon,
       CAST(SUM(rlat) AS BIGINT) AS sum_ulat
FROM chk GROUP BY 1
"""


QUERIES.update({
    "wkt_point_ingest": (q_wkt_point_ingest, _oracle_wkt()),
})


# --- anova_f: one-way ANOVA across groups -----------------------------------------
#
# Classical between/within variance decomposition of order value across
# order priorities: SSB/SSW from exact integer-DOLLAR moments (cents
# squared overflow int64 at this row count — SUM(v^2) must stay exact, so
# the unit drops a factor 100; DECIMAL(38) takes over past ~1e9 rows), F
# in one literal float expression (the spatial_autocorr rule).  One
# map-side combinable group agg + a single 5-row reduce.


def q_anova_f(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS g",
        "CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS v")
    per = o.groupBy("g").agg(F.count(F.lit(1)).alias("n"),
                             F.sum("v").alias("s"),
                             F.expr("SUM(CAST(v * v AS DECIMAL(38, 0)))")
                             .alias("ss"))
    # ssb folds over the FIXED priority alphabet in one literal expression
    # (the user_entropy rule): a SUM(s*s/n) float aggregate is
    # aggregation-order-dependent at the last ulp, which ROUND(,4) cannot
    # absorb at 1e14 magnitudes — the pivot makes the op order identical
    # on both engines
    tot = (per.groupBy()
           .agg(F.sum("n").alias("nt"), F.sum("s").alias("st"),
                F.sum("ss").alias("sst"), F.count(F.lit(1)).alias("k"),
                *[F.expr(f"MIN(CASE WHEN g = '{g}' THEN n END)")
                  .alias(f"n{i}") for i, g in enumerate(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])],
                *[F.expr(f"MIN(CASE WHEN g = '{g}' THEN s END)")
                  .alias(f"s{i}") for i, g in enumerate(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])])
           .withColumn("ssb_part", F.expr("(CAST(s0 AS DOUBLE) * s0 / n0) + (CAST(s1 AS DOUBLE) * s1 / n1) + (CAST(s2 AS DOUBLE) * s2 / n2) + (CAST(s3 AS DOUBLE) * s3 / n3) + (CAST(s4 AS DOUBLE) * s4 / n4)")))
    return tot.selectExpr(
        "CAST(k AS BIGINT) AS n_groups", "CAST(nt AS BIGINT) AS n_rows",
        "ROUND(ssb_part - CAST(st AS DOUBLE) * st / nt, 4) AS ss_between",
        "ROUND(CAST(sst AS DOUBLE) - ssb_part, 4) AS ss_within",
        "ROUND(((ssb_part - CAST(st AS DOUBLE) * st / nt) / (k - 1)) / "
        "((CAST(sst AS DOUBLE) - ssb_part) / (nt - k)), 6) AS f_stat")


ORACLE_ANOVA = """
WITH o AS (
  SELECT o_orderpriority AS g,
         CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS v
  FROM orders),
per AS (SELECT g, COUNT(*) AS n, SUM(v) AS s,
               SUM(CAST(v * v AS DECIMAL(38, 0))) AS ss
        FROM o GROUP BY 1),
piv AS (
  SELECT SUM(n) AS nt, SUM(s) AS st, SUM(ss) AS sst, COUNT(*) AS k,
         MIN(CASE WHEN g = '1-URGENT' THEN n END) AS n0, MIN(CASE WHEN g = '1-URGENT' THEN s END) AS s0, MIN(CASE WHEN g = '2-HIGH' THEN n END) AS n1, MIN(CASE WHEN g = '2-HIGH' THEN s END) AS s1, MIN(CASE WHEN g = '3-MEDIUM' THEN n END) AS n2, MIN(CASE WHEN g = '3-MEDIUM' THEN s END) AS s2, MIN(CASE WHEN g = '4-NOT SPECIFIED' THEN n END) AS n3, MIN(CASE WHEN g = '4-NOT SPECIFIED' THEN s END) AS s3, MIN(CASE WHEN g = '5-LOW' THEN n END) AS n4, MIN(CASE WHEN g = '5-LOW' THEN s END) AS s4
  FROM per),
tot AS (SELECT *, (CAST(s0 AS DOUBLE) * s0 / n0) + (CAST(s1 AS DOUBLE) * s1 / n1) + (CAST(s2 AS DOUBLE) * s2 / n2) + (CAST(s3 AS DOUBLE) * s3 / n3) + (CAST(s4 AS DOUBLE) * s4 / n4) AS ssb_part FROM piv)
SELECT CAST(k AS BIGINT) AS n_groups, CAST(nt AS BIGINT) AS n_rows,
       ROUND(ssb_part - CAST(st AS DOUBLE) * st / nt, 4) AS ss_between,
       ROUND(CAST(sst AS DOUBLE) - ssb_part, 4) AS ss_within,
       ROUND(((ssb_part - CAST(st AS DOUBLE) * st / nt) / (k - 1)) /
             ((CAST(sst AS DOUBLE) - ssb_part) / (nt - k)), 6) AS f_stat
FROM tot
"""


# --- mann_kendall: non-parametric trend test ---------------------------------------
#
# The rank-based complement to trend_regression: S = SUM over hour pairs
# of SIGN(x_j - x_i), j > i — an exact integer from a self-join over the
# TINY hourly aggregate (the fact table never self-joins), with the
# tie-corrected variance from exact tie-group counts; Z in one literal
# float expression.


def q_mann_kendall(spark, sf_dir):
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type AS g",
        "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) "
        "/ 3600000000.0) AS BIGINT) AS h")
    hourly = e.groupBy("g", "h").agg(F.count(F.lit(1)).alias("x"))
    a = hourly.selectExpr("g", "h AS hi", "x AS xi")
    b = hourly.selectExpr("g", "h AS hj", "x AS xj")
    s = (a.join(b, "g").where("hj > hi")
         .selectExpr("g", "CAST(SIGN(xj - xi) AS BIGINT) AS sg")
         .groupBy("g").agg(F.sum("sg").alias("s")))
    n = hourly.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    ties = (hourly.groupBy("g", "x").agg(F.count(F.lit(1)).alias("t"))
            .where("t > 1")
            .groupBy("g")
            .agg(F.expr("SUM(t * (t - 1) * (2 * t + 5))").alias("tie_adj")))
    j = (n.join(s, "g").join(ties, "g", "left")
         .selectExpr("g", "n", "s", "COALESCE(tie_adj, 0) AS tie_adj"))
    # var = (n(n-1)(2n+5) - tie_adj) / 18 ; Z with continuity correction
    return j.selectExpr(
        "g", "CAST(n AS BIGINT) AS n_hours", "CAST(s AS BIGINT) AS s",
        "CAST(n * (n - 1) * (2 * n + 5) - tie_adj AS BIGINT) AS var18",
        "ROUND((CAST(s AS DOUBLE) - CAST(SIGN(s) AS DOUBLE)) / "
        "SQRT((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tie_adj) "
        "/ 18.0), 6) AS z")


ORACLE_MK = """
WITH e AS (
  SELECT event_type AS g,
         CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS h
  FROM events),
hourly AS (SELECT g, h, COUNT(*) AS x FROM e GROUP BY 1, 2),
s AS (
  SELECT a.g, CAST(SUM(SIGN(b.x - a.x)) AS BIGINT) AS s
  FROM hourly a JOIN hourly b ON a.g = b.g AND b.h > a.h
  GROUP BY 1),
n AS (SELECT g, COUNT(*) AS n FROM hourly GROUP BY 1),
ties AS (
  SELECT g, SUM(t * (t - 1) * (2 * t + 5)) AS tie_adj
  FROM (SELECT g, x, COUNT(*) AS t FROM hourly GROUP BY 1, 2)
  WHERE t > 1 GROUP BY 1)
SELECT n.g, CAST(n.n AS BIGINT) AS n_hours, s.s AS s,
       CAST(n.n * (n.n - 1) * (2 * n.n + 5) - COALESCE(ties.tie_adj, 0)
            AS BIGINT) AS var18,
       ROUND((CAST(s.s AS DOUBLE) - CAST(SIGN(s.s) AS DOUBLE)) /
             SQRT((CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
                   - COALESCE(ties.tie_adj, 0)) / 18.0), 6) AS z
FROM n JOIN s ON n.g = s.g LEFT JOIN ties ON n.g = ties.g
"""


# --- association_rules: market-basket lift over event types ------------------------
#
# Association-rule mining (the retail/market-basket classic) over the
# "basket" of event types each user exhibits: support, confidence and
# lift for every ordered type pair from exact integer user counts; the
# ratios are single literal float expressions.  One distinct
# (user, type) reduce + a type-pair self-join over the per-user SETS
# never the fact table.


def q_association_rules(spark, sf_dir):
    # materialize the distinct basket table ONCE: four downstream
    # consumers (user count, item counts, both join sides) otherwise each
    # re-scan events and re-shuffle the distinct (measured: 8 exchanges
    # -> 4 after this fold)
    ut = (_t(spark, sf_dir, "events")
          .selectExpr("user_id", "event_type").distinct()
          .localCheckpoint())
    n_users = ut.selectExpr("user_id").distinct() \
        .groupBy().agg(F.count(F.lit(1)).alias("nu"))
    item = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    a = ut.selectExpr("user_id", "event_type AS ante")
    b = ut.selectExpr("user_id", "event_type AS cons")
    pair = (a.join(b, "user_id").where("ante <> cons")
            .groupBy("ante", "cons").agg(F.count(F.lit(1)).alias("both")))
    ia = item.selectExpr("event_type AS ante", "cnt AS ca")
    ic = item.selectExpr("event_type AS cons", "cnt AS cc")
    return (pair.join(F.broadcast(ia), "ante").join(F.broadcast(ic), "cons")
            .crossJoin(F.broadcast(n_users))
            .selectExpr(
                "ante", "cons", "CAST(both AS BIGINT) AS n_both",
                "CAST(ca AS BIGINT) AS n_ante",
                "CAST(cc AS BIGINT) AS n_cons",
                "ROUND(CAST(both AS DOUBLE) / nu, 6) AS support",
                "ROUND(CAST(both AS DOUBLE) / ca, 6) AS confidence",
                "ROUND((CAST(both AS DOUBLE) * nu) / "
                "(CAST(ca AS DOUBLE) * cc), 6) AS lift"))


ORACLE_ASSOC = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
nu AS (SELECT COUNT(DISTINCT user_id) AS nu FROM ut),
item AS (SELECT event_type, COUNT(*) AS cnt FROM ut GROUP BY 1),
pair AS (
  SELECT a.event_type AS ante, b.event_type AS cons, COUNT(*) AS both
  FROM ut a JOIN ut b ON a.user_id = b.user_id
   AND a.event_type <> b.event_type
  GROUP BY 1, 2)
SELECT p.ante, p.cons, CAST(p.both AS BIGINT) AS n_both,
       CAST(ia.cnt AS BIGINT) AS n_ante, CAST(ic.cnt AS BIGINT) AS n_cons,
       ROUND(CAST(p.both AS DOUBLE) / nu.nu, 6) AS support,
       ROUND(CAST(p.both AS DOUBLE) / ia.cnt, 6) AS confidence,
       ROUND((CAST(p.both AS DOUBLE) * nu.nu) /
             (CAST(ia.cnt AS DOUBLE) * ic.cnt), 6) AS lift
FROM pair p
JOIN item ia ON ia.event_type = p.ante
JOIN item ic ON ic.event_type = p.cons, nu
"""


QUERIES.update({
    "anova_f": (q_anova_f, ORACLE_ANOVA),
    "mann_kendall": (q_mann_kendall, ORACLE_MK),
    "association_rules": (q_association_rules, ORACLE_ASSOC),
})


# --- distribution_drift: PSI + exact 1-D Wasserstein -------------------------------
#
# The data-drift monitors an ML training pipeline runs before every
# refresh: each event type's hour-of-week activity distribution compared
# against the whole-corpus baseline.  Two complementary metrics:
#   * EMD (1-D Wasserstein) — SUM over the 168 ordered bins of
#     |CDF_type - CDF_base|, kept EXACT by integer cross-multiplication
#     (|cum_t * n_base - cum_base * n_t| sums in int64; one final
#     division normalizes);
#   * PSI — sum of (p_t - p_b) * ln(p_t / p_b) with add-one smoothing
#     (zero bins stay defined), LN under the repo round-6 rule.
# Bins use the seasonality epoch arithmetic (engine date_part conventions
# never enter); one map-side-combinable bin agg + a 168-row window.

DRIFT_DAY_US = 86_400_000_000
DRIFT_HOUR_US = 3_600_000_000


def q_distribution_drift(spark, sf_dir):
    bin_sql = (f"CAST((CAST(FLOOR(us / {float(DRIFT_DAY_US)!r}) AS BIGINT) "
               f"+ 4) % 7 AS BIGINT) * 24 + "
               f"CAST(FLOOR(us / {float(DRIFT_HOUR_US)!r}) AS BIGINT) % 24")
    e = _t(spark, sf_dir, "events").selectExpr(
        "event_type AS g",
        "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us").selectExpr(
        "g", f"({bin_sql}) AS b")
    # dense 168-bin spine per type so zero bins participate in both metrics
    types = e.select("g").distinct()
    spine = types.selectExpr("g", "explode(sequence(0, 167)) AS b")
    cnt = e.groupBy("g", "b").agg(F.count(F.lit(1)).alias("c"))
    full = (spine.join(cnt, ["g", "b"], "left")
            .selectExpr("g", "b", "COALESCE(c, 0) AS c"))
    base = (full.groupBy("b").agg(F.sum("c").alias("cb")))
    j = (full.join(F.broadcast(base), "b")
         .selectExpr("g", "b", "c", "cb",
                     "SUM(c) OVER (PARTITION BY g ORDER BY b "
                     "ROWS UNBOUNDED PRECEDING) AS cum_t",
                     "SUM(cb) OVER (PARTITION BY g ORDER BY b "
                     "ROWS UNBOUNDED PRECEDING) AS cum_b",
                     "SUM(c) OVER (PARTITION BY g) AS nt",
                     "SUM(cb) OVER (PARTITION BY g) AS nb"))
    return (j.groupBy("g")
            .agg(F.max("nt").alias("nt"), F.max("nb").alias("nb"),
                 F.expr("SUM(ABS(cum_t * nb - cum_b * nt))").alias("emd_x"),
                 F.expr(
                     "SUM((CAST(c + 1 AS DOUBLE) / (nt + 168) - "
                     "CAST(cb + 1 AS DOUBLE) / (nb + 168)) * "
                     "LN((CAST(c + 1 AS DOUBLE) / (nt + 168)) / "
                     "(CAST(cb + 1 AS DOUBLE) / (nb + 168))))").alias("psi"))
            .selectExpr("g", "CAST(nt AS BIGINT) AS n_events",
                        "CAST(emd_x AS BIGINT) AS emd_scaled",
                        "ROUND(CAST(emd_x AS DOUBLE) / "
                        "(CAST(nt AS DOUBLE) * nb), 6) AS emd_bins",
                        "ROUND(psi, 6) AS psi"))


def _oracle_drift() -> str:
    bin_sql = (f"CAST((CAST(FLOOR(us / {float(DRIFT_DAY_US)!r}) AS BIGINT) "
               f"+ 4) % 7 AS BIGINT) * 24 + "
               f"CAST(FLOOR(us / {float(DRIFT_HOUR_US)!r}) AS BIGINT) % 24")
    return f"""
WITH e AS (
  SELECT event_type AS g, ({bin_sql}) AS b
  FROM (SELECT event_type, epoch_us(ts) AS us FROM events)),
types AS (SELECT DISTINCT g FROM e),
spine AS (SELECT g, u.b FROM types,
          (SELECT UNNEST(GENERATE_SERIES(0, 167)) AS b) u),
cnt AS (SELECT g, b, COUNT(*) AS c FROM e GROUP BY 1, 2),
dense AS (
  SELECT s.g, s.b, COALESCE(cnt.c, 0) AS c
  FROM spine s LEFT JOIN cnt ON cnt.g = s.g AND cnt.b = s.b),
base AS (SELECT b, SUM(c) AS cb FROM dense GROUP BY 1),
j AS (
  SELECT f.g, f.b, f.c, base.cb,
         SUM(f.c) OVER (PARTITION BY f.g ORDER BY f.b
                        ROWS UNBOUNDED PRECEDING) AS cum_t,
         SUM(base.cb) OVER (PARTITION BY f.g ORDER BY f.b
                            ROWS UNBOUNDED PRECEDING) AS cum_b,
         SUM(f.c) OVER (PARTITION BY f.g) AS nt,
         SUM(base.cb) OVER (PARTITION BY f.g) AS nb
  FROM dense f JOIN base ON base.b = f.b)
SELECT g, CAST(MAX(nt) AS BIGINT) AS n_events,
       CAST(SUM(ABS(cum_t * nb - cum_b * nt)) AS BIGINT) AS emd_scaled,
       ROUND(CAST(SUM(ABS(cum_t * nb - cum_b * nt)) AS DOUBLE) /
             (CAST(MAX(nt) AS DOUBLE) * MAX(nb)), 6) AS emd_bins,
       ROUND(SUM((CAST(c + 1 AS DOUBLE) / (nt + 168) -
                  CAST(cb + 1 AS DOUBLE) / (nb + 168)) *
                 LN((CAST(c + 1 AS DOUBLE) / (nt + 168)) /
                    (CAST(cb + 1 AS DOUBLE) / (nb + 168)))), 6) AS psi
FROM j GROUP BY 1
"""


QUERIES.update({
    "distribution_drift": (q_distribution_drift, _oracle_drift()),
})


# --- image_histogram_stats: pixel-value histograms over real bytes ----------------
#
# The exposure/contrast QA pass (B11 family): decode real raw/png bytes,
# bucket every pixel value into 8 equal-width bins, and aggregate exact
# counts per (format, bucket) with an image-index-weighted checksum that
# catches a histogram attributed to the wrong image.  The oracle
# recomputes every bucket count from the generator formula
# P(y,x,c) = mix(i*1000003 + y*4096 + x*4 + c) % 256 by lattice sums.

HIST_N = 24          # ids 0..23; qb (lossy) excluded -> 16 raw/png images
HIST_BUCKETS = 8


def q_image_histogram_stats(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, HIST_N, partitions=4).where(
        F.col("fmt") != "qb")
    # the kernel emits all 8 buckets per image incl. zero counts; the
    # oracle's per-image rows exist only for non-empty buckets — drop
    # zeros so n_images means "images with pixels in this bin" on both
    h = multimodal.histogram_checksums(img, buckets=HIST_BUCKETS).where(
        "n_px > 0")
    withi = h.selectExpr(
        "image_id", "bucket", "n_px",
        "CAST(substr(image_id, 4) AS BIGINT) AS i",
        "CASE WHEN CAST(substr(image_id, 4) AS BIGINT) % 3 = 0 "
        "THEN 'raw' ELSE 'png' END AS fmt")
    return (withi.groupBy("fmt", "bucket")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_px").alias("n_pixels"),
                 F.expr("SUM(n_px * (i + 7))").alias("checksum"))
            .selectExpr("fmt", "CAST(bucket AS INT) AS bucket",
                        "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_pixels AS BIGINT) AS n_pixels",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_image_hist() -> str:
    from .hashing import mix_sql
    m = fixtures.images_meta_sql("i")
    px = mix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + cc.c")
    width = 256 // HIST_BUCKETS
    return f"""
WITH imgs AS (
  SELECT i, {m['w']} AS w, {m['h']} AS h,
         CASE WHEN i % 3 = 0 THEN 'raw' ELSE 'png' END AS fmt
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {HIST_N - 1})) AS i) t
  WHERE i % 3 <> 2),
pix AS (
  SELECT i, fmt,
         CAST(FLOOR((({px}) % 256) / {float(width)!r}) AS INT) AS bucket
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) xx,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc),
per AS (
  SELECT i, fmt, bucket, COUNT(*) AS n_px FROM pix GROUP BY 1, 2, 3)
SELECT fmt, bucket, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_px) AS BIGINT) AS n_pixels,
       CAST(SUM(n_px * (i + 7)) AS BIGINT) AS checksum
FROM per GROUP BY 1, 2
"""


QUERIES.update({
    "image_histogram_stats": (q_image_histogram_stats, _oracle_image_hist()),
})


# --- dag_critical_path: longest path through a layered dependency DAG ------------
#
# The scheduler/build-system primitive (critical-path analysis of an ETL
# dependency graph): longest weighted path in a DAG.  The graph is a
# 10-layer pipeline synthesized from the shared hash family (edges only
# cross adjacent layers, so the DP depth is bounded BY CONSTRUCTION at
# D-1 relaxation rounds — no convergence loop to trust); parallel edges
# collapse deterministically to MAX weight.  Spark runs the real
# iterative max-relaxation (one edge-keyed shuffle per round,
# localCheckpoint); the oracle unrolls the same D-1 rounds as chained
# CTEs.  All-integer weights keep every distance exact.

DAG_LAYERS = 10
DAG_WIDTH = 60
DAG_EDGES = 2400


def _dag_edges_sql():
    from .hashing import mix_sql
    l_ = f"({mix_sql('id * 5 + 1')}) % {DAG_LAYERS - 1}"
    return (f"({l_}) * {DAG_WIDTH} + ({mix_sql('id * 5 + 2')}) "
            f"% {DAG_WIDTH}",
            f"(({l_}) + 1) * {DAG_WIDTH} + ({mix_sql('id * 5 + 3')}) "
            f"% {DAG_WIDTH}",
            f"1 + ({mix_sql('id * 5 + 4')}) % 99")


def q_dag_critical_path(spark, sf_dir):
    ue, ve, we = _dag_edges_sql()
    raw = spark.range(0, DAG_EDGES).selectExpr(
        f"{ue} AS u", f"{ve} AS v", f"{we} AS w")
    edges = (raw.groupBy("u", "v").agg(F.max("w").alias("w"))
             .localCheckpoint())
    nodes = (edges.selectExpr("u AS node")
             .union(edges.selectExpr("v AS node")).distinct())
    dist = nodes.selectExpr("node", "CAST(0 AS BIGINT) AS d") \
        .localCheckpoint()
    for _ in range(DAG_LAYERS - 1):
        relaxed = (edges.join(dist.selectExpr("node AS u", "d AS du"), "u")
                   .groupBy("v").agg(F.expr("MAX(du + w)").alias("dv")))
        dist = (dist.join(relaxed.selectExpr("v AS node", "dv"),
                          "node", "left")
                .selectExpr("node", "GREATEST(d, COALESCE(dv, 0)) AS d")
                .localCheckpoint())
    return (dist.selectExpr(
        f"CAST(FLOOR(node / {float(DAG_WIDTH)!r}) AS BIGINT) AS layer",
        "node", "d")
        .groupBy("layer")
        .agg(F.count(F.lit(1)).alias("n_nodes"),
             F.expr("SUM(CAST(d > 0 AS INT))").alias("n_reached"),
             F.max("d").alias("critical_path"),
             F.expr("SUM(d * 131 + node)").alias("checksum"))
        .selectExpr("layer", "CAST(n_nodes AS BIGINT) AS n_nodes",
                    "CAST(n_reached AS BIGINT) AS n_reached",
                    "CAST(critical_path AS BIGINT) AS critical_path",
                    "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_dag() -> str:
    ue, ve, we = _dag_edges_sql()
    ue, ve, we = (x.replace("id", "i") for x in (ue, ve, we))
    ctes = [f"""raw AS (
  SELECT {ue} AS u, {ve} AS v, {we} AS w
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {DAG_EDGES - 1})) AS i) t),
ed AS (SELECT u, v, MAX(w) AS w FROM raw GROUP BY 1, 2),
nodes AS (SELECT DISTINCT u AS node FROM
          (SELECT u FROM ed UNION ALL SELECT v FROM ed) x(u)),
d0 AS (SELECT node, CAST(0 AS BIGINT) AS d FROM nodes)"""]
    for r in range(1, DAG_LAYERS):
        ctes.append(f"""rx{r} AS (
  SELECT ed.v, MAX(p.d + ed.w) AS dv
  FROM ed JOIN d{r - 1} p ON p.node = ed.u GROUP BY 1),
d{r} AS (
  SELECT p.node, GREATEST(p.d, COALESCE(rx{r}.dv, 0)) AS d
  FROM d{r - 1} p LEFT JOIN rx{r} ON rx{r}.v = p.node)""")
    last = f"d{DAG_LAYERS - 1}"
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT CAST(FLOOR(node / {float(DAG_WIDTH)!r}) AS BIGINT) AS layer,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(CAST(d > 0 AS INT)) AS BIGINT) AS n_reached,
       CAST(MAX(d) AS BIGINT) AS critical_path,
       CAST(SUM(d * 131 + node) AS BIGINT) AS checksum
FROM {last} GROUP BY 1""")


QUERIES.update({
    "dag_critical_path": (q_dag_critical_path, _oracle_dag()),
})


# --- tree_rollup: hierarchical aggregation via closed-form ancestor explode -------
#
# Subtree rollups over an org/BOM-style hierarchy WITHOUT recursion: the
# customer keys form an implicit binary tree (parent = child // 2), so a
# node's whole ancestor chain is the closed form FLOOR(node / 2^k),
# k = 0..depth — a CONSTANT fan-out explode (the materialized-path trick),
# one shuffle on the ancestor key, no iteration at all.  Every aggregate
# is exact integer cents; subtree count conservation
# (SUM over a level of n_subtree == total nodes below it + level size)
# is pinned in pytest.

TREE_DEPTH = 27      # covers custkey < 2^27 (the 100M bench); at
                     # gate SFs the extra k's floor to ancestor 0
                     # and are filtered — results identical


def q_tree_rollup(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS node",
        "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents")
    anc = (c.selectExpr("node", "cents",
                        f"explode(sequence(0, {TREE_DEPTH})) AS k")
           .selectExpr("CAST(FLOOR(node / POW(2.0, k)) AS BIGINT) "
                       "AS ancestor", "cents", "node")
           .where("ancestor >= 1"))
    roll = (anc.groupBy("ancestor")
            .agg(F.count(F.lit(1)).alias("n_subtree"),
                 F.sum("cents").alias("subtree_cents"),
                 F.min("node").alias("min_node"),
                 F.max("node").alias("max_node")))
    # report one summary row per tree LEVEL — the EXACT bit length
    # (LENGTH of the base-2 rendering, the quadkey different-builtins
    # trick), never FLOOR(LOG2(x)): Spark computes LOG2 as a log ratio
    # whose last ulp can flip the floor at exact powers of two
    return (roll.selectExpr(
        "CAST(LENGTH(CONV(CAST(ancestor AS STRING), 10, 2)) - 1 "
        "AS BIGINT) AS level",
        "n_subtree", "subtree_cents", "ancestor")
        .groupBy("level")
        .agg(F.count(F.lit(1)).alias("n_ancestors"),
             F.sum("n_subtree").alias("sum_subtree_nodes"),
             F.max("n_subtree").alias("max_subtree_nodes"),
             F.sum("subtree_cents").alias("sum_cents"),
             F.expr("SUM(ancestor % 999983)").alias("checksum"))
        .selectExpr("level", "CAST(n_ancestors AS BIGINT) AS n_ancestors",
                    "CAST(sum_subtree_nodes AS BIGINT) AS sum_subtree_nodes",
                    "CAST(max_subtree_nodes AS BIGINT) AS max_subtree_nodes",
                    "CAST(sum_cents AS BIGINT) AS sum_cents",
                    "CAST(checksum AS BIGINT) AS checksum"))


ORACLE_TREE = f"""
WITH c AS (
  SELECT c_custkey AS node,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
  FROM customer),
anc AS (
  SELECT CAST(FLOOR(node / POW(2.0, k)) AS BIGINT) AS ancestor, cents, node
  FROM c, (SELECT UNNEST(GENERATE_SERIES(0, {TREE_DEPTH})) AS k) ks
  WHERE CAST(FLOOR(node / POW(2.0, k)) AS BIGINT) >= 1),
roll AS (
  SELECT ancestor, COUNT(*) AS n_subtree, SUM(cents) AS subtree_cents
  FROM anc GROUP BY 1)
SELECT CAST(LENGTH(to_base(ancestor, 2)) - 1 AS BIGINT) AS level,
       CAST(COUNT(*) AS BIGINT) AS n_ancestors,
       CAST(SUM(n_subtree) AS BIGINT) AS sum_subtree_nodes,
       CAST(MAX(n_subtree) AS BIGINT) AS max_subtree_nodes,
       CAST(SUM(subtree_cents) AS BIGINT) AS sum_cents,
       CAST(SUM(ancestor % 999983) AS BIGINT) AS checksum
FROM roll GROUP BY 1
"""


QUERIES.update({
    "tree_rollup": (q_tree_rollup, ORACLE_TREE),
})


# --- trajectory_crossings: exact segment-intersection overlay ------------------
#
# Overlay stage 3 (after fence_overlap_pairs = candidates on bboxes and
# rect_union_area = region union): PROPER intersections between line
# segments of DIFFERENT users' trajectories — the conflict-detection /
# road-network-inference primitive.  The intersection predicate is the
# textbook four-orientation sign test on INTEGER lattice coordinates, so
# every distributed comparison is exact int64 (coords < 2^14, orients
# < 2^31, sign products < 2^62 — ANSI-safe) and the value hash cannot
# drift.  Trajectories are bounded random walks (cumulative hashed steps
# in [-128, 127] from a hashed start cell, clamped to the lattice), so
# consecutive points are LOCAL: a segment's bbox spans <= 2 grid cells
# per axis and the scatter explode is bounded <= 4 at ANY corpus size —
# candidates come from ONE cell-keyed equi-join.  The ORACLE is the
# brute-force O(M^2) pair join with the IDENTICAL sign tests — gate
# equality therefore PROVES the grid candidate generation is lossless,
# the fence_overlap_pairs trick applied to segments.  (The oracle join
# compares PRE-COMPUTED bbox columns: LEAST/GREATEST expressions inside
# the join condition trip a DuckDB IEJoin internal error — a real
# dialect landmine found by this build.)  Users are hash-sampled
# (user_id % 3) only to keep the brute-force oracle affordable at sf0.1;
# the engine path never materializes all-pairs.

TC_HOME = 64      # 64x64 start-cell grid (gate value; bench scales it
                  # with the corpus so crossing density stays constant)
TC_WIN = 256      # grid cell size (lattice units); max |step| = 128


def _tc_segments_sql(us_expr: str, home: int = TC_HOME) -> str:
    """Dialect-shared CTE body: sampled users' consecutive-event walk
    segments on the integer lattice, with precomputed bbox columns.

    Orientation products in the classify stage stay < 2^40 for any
    ``home``: every evaluated pair is cell-local (bbox-overlap join /
    cell-keyed candidates), so coordinate differences are < 3 * TC_WIN
    even on a 4096^2-cell bench world."""
    from .hashing import u01_sql
    tc_max = home * TC_WIN - 1
    hx = f"CAST(FLOOR({u01_sql('user_id * 13 + 5')} * {home}) AS BIGINT)"
    hy = f"CAST(FLOOR({u01_sql('user_id * 13 + 6')} * {home}) AS BIGINT)"
    sx = (f"CAST(FLOOR({u01_sql('event_id * 17 + 3')} * {TC_WIN}) AS BIGINT)"
          f" - {TC_WIN // 2}")
    sy = (f"CAST(FLOOR({u01_sql('event_id * 17 + 4')} * {TC_WIN}) AS BIGINT)"
          f" - {TC_WIN // 2}")
    w = "PARTITION BY user_id ORDER BY us, event_id"
    walk = (f"GREATEST(0, LEAST({tc_max}, "
            f"h{{a}} * {TC_WIN} + {TC_WIN // 2} + "
            f"SUM(s{{a}}) OVER ({w} ROWS UNBOUNDED PRECEDING)))")
    return f"""
  SELECT user_id,
         ROW_NUMBER() OVER ({w}) AS seq,
         LAG(x) OVER ({w}) AS x0,
         LAG(y) OVER ({w}) AS y0,
         x AS x1, y AS y1
  FROM (SELECT user_id, event_id, us,
               {walk.format(a='x')} AS x,
               {walk.format(a='y')} AS y
        FROM (SELECT user_id, event_id, {us_expr} AS us,
                     {hx} AS hx, {hy} AS hy, ({sx}) AS sx, ({sy}) AS sy
              FROM events WHERE user_id % 3 = 0) raw) pts
"""


# sign tests shared by engine and oracle (a = segment A, b = segment B):
# dN = orientation of one endpoint against the other segment's line
_TC_TESTS = [
    "(bx1 - bx0) * (ay0 - by0) - (by1 - by0) * (ax0 - bx0) AS d1",
    "(bx1 - bx0) * (ay1 - by0) - (by1 - by0) * (ax1 - bx0) AS d2",
    "(ax1 - ax0) * (by0 - ay0) - (ay1 - ay0) * (bx0 - ax0) AS d3",
    "(ax1 - ax0) * (by1 - ay0) - (ay1 - ay0) * (bx1 - ax0) AS d4",
]

_TC_CLASSIFY = [
    "CASE WHEN d1 * d2 < 0 AND d3 * d4 < 0 THEN 1 ELSE 0 END AS is_proper",
    """CASE WHEN NOT (d1 * d2 < 0 AND d3 * d4 < 0)
            AND d1 * d2 <= 0 AND d3 * d4 <= 0
            AND LEAST(ax0, ax1) <= GREATEST(bx0, bx1)
            AND LEAST(bx0, bx1) <= GREATEST(ax0, ax1)
            AND LEAST(ay0, ay1) <= GREATEST(by0, by1)
            AND LEAST(by0, by1) <= GREATEST(ay0, ay1)
       THEN 1 ELSE 0 END AS is_touch""",
]


def q_trajectory_crossings(spark, sf_dir, home: int = TC_HOME):
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    seg = spark.sql(
        "SELECT * FROM (" +
        _tc_segments_sql("unix_micros(CAST(ts AS TIMESTAMP_LTZ))", home) +
        ") s WHERE x0 IS NOT NULL AND NOT (x0 = x1 AND y0 = y1)")
    # bounded scatter: bbox spans <= 2 cells per axis by construction
    cover = seg.selectExpr(
        "user_id", "seq", "x0", "y0", "x1", "y1",
        f"explode(sequence(CAST(FLOOR(LEAST(x0, x1) / {TC_WIN}.0) AS BIGINT), "
        f"CAST(FLOOR(GREATEST(x0, x1) / {TC_WIN}.0) AS BIGINT))) AS cx")
    cover = cover.selectExpr(
        "*",
        f"explode(sequence(CAST(FLOOR(LEAST(y0, y1) / {TC_WIN}.0) AS BIGINT), "
        f"CAST(FLOOR(GREATEST(y0, y1) / {TC_WIN}.0) AS BIGINT))) AS cy")
    a = cover.selectExpr("user_id AS ua", "seq AS sa", "x0 AS ax0",
                         "y0 AS ay0", "x1 AS ax1", "y1 AS ay1", "cx", "cy")
    b = cover.selectExpr("user_id AS ub", "seq AS sb", "x0 AS bx0",
                         "y0 AS by0", "x1 AS bx1", "y1 AS by1", "cx", "cy")
    # report-once dedup BY CONSTRUCTION, not by .distinct(): a pair that
    # shares k cells is kept only in the cell containing the top-left
    # corner of the bbox intersection (that corner lies in both bboxes,
    # so its cell is in both covers).  The original .distinct() was a
    # full shuffle of every wide candidate row — ~40 GB of spill at the
    # 100M bench; this is a free per-row predicate.  Pairs whose bboxes
    # don't overlap can slip through once, but they contribute 0 to
    # every aggregate (is_proper = is_touch = 0) and the HAVING drops
    # empty groups, so the result is unchanged — the brute-force oracle
    # equality proves it.
    pairs = (a.join(b, ["cx", "cy"]).where("ua < ub")
             .where(f"cx = CAST(FLOOR(GREATEST(LEAST(ax0, ax1), "
                    f"LEAST(bx0, bx1)) / {TC_WIN}.0) AS BIGINT) AND "
                    f"cy = CAST(FLOOR(GREATEST(LEAST(ay0, ay1), "
                    f"LEAST(by0, by1)) / {TC_WIN}.0) AS BIGINT)")
             .drop("cx", "cy"))
    tested = pairs.selectExpr("*", *_TC_TESTS) \
        .selectExpr("ua", "ub", "sa", "sb", *_TC_CLASSIFY)
    return (tested.groupBy("ua", "ub")
            .agg(F.expr("SUM(is_proper)").alias("n_cross"),
                 F.expr("SUM(is_touch)").alias("n_touch"),
                 F.expr("SUM(CASE WHEN is_proper = 1 OR is_touch = 1 "
                        "THEN (sa * 1009 + sb) % 999983 ELSE 0 END)")
                 .alias("checksum"))
            .where("n_cross + n_touch > 0")
            .selectExpr("ua", "ub", "CAST(n_cross AS BIGINT) AS n_cross",
                        "CAST(n_touch AS BIGINT) AS n_touch",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_crossings() -> str:
    return f"""
WITH seg0 AS ({_tc_segments_sql('epoch_us(ts)')}),
seg AS (SELECT user_id, seq, x0, y0, x1, y1,
               LEAST(x0, x1) AS xlo, GREATEST(x0, x1) AS xhi,
               LEAST(y0, y1) AS ylo, GREATEST(y0, y1) AS yhi
        FROM seg0
        WHERE x0 IS NOT NULL AND NOT (x0 = x1 AND y0 = y1)),
pairs AS (
  SELECT a.user_id AS ua, b.user_id AS ub, a.seq AS sa, b.seq AS sb,
         a.x0 AS ax0, a.y0 AS ay0, a.x1 AS ax1, a.y1 AS ay1,
         b.x0 AS bx0, b.y0 AS by0, b.x1 AS bx1, b.y1 AS by1
  FROM seg a JOIN seg b
    ON a.user_id < b.user_id
   AND a.xlo <= b.xhi AND b.xlo <= a.xhi
   AND a.ylo <= b.yhi AND b.ylo <= a.yhi),
tested AS (
  SELECT ua, ub, sa, sb, {', '.join(_TC_CLASSIFY)}
  FROM (SELECT ua, ub, sa, sb, ax0, ay0, ax1, ay1, bx0, by0, bx1, by1,
               {', '.join(_TC_TESTS)}
        FROM pairs))
SELECT ua, ub, CAST(SUM(is_proper) AS BIGINT) AS n_cross,
       CAST(SUM(is_touch) AS BIGINT) AS n_touch,
       CAST(SUM(CASE WHEN is_proper = 1 OR is_touch = 1
                THEN (sa * 1009 + sb) % 999983 ELSE 0 END) AS BIGINT)
         AS checksum
FROM tested GROUP BY ua, ub
HAVING SUM(is_proper) + SUM(is_touch) > 0
"""


QUERIES.update({
    "trajectory_crossings": (q_trajectory_crossings, _oracle_crossings()),
})


# --- theil_sen_slope: robust median-of-pairwise-slopes regression ---------------
#
# The robust complement of trend_regression's OLS (and the estimator
# Mann-Kendall is the test for): per event_type, the Theil-Sen slope over
# the HOURLY cents series = the median of all pairwise slopes
# (v2-v1)/(h2-h1).  Scale shape: the corpus-sized pass is one map-side-
# combined (type, hour) aggregate; the pair fan-out lives on the tiny
# time-bounded aggregate (720 hours -> 259k pairs/type), corpus-
# independent.  Exactness: each slope is ONE IEEE division of exact int64
# num/den (bit-identical across engines); the median is selected by rank
# over (slope, num, den) — rows tied on all three are interchangeable for
# the output — and the reported columns are the EXACT integer numerator/
# denominator of the median pair plus the round-9 quotient.

def q_theil_sen_slope(spark, sf_dir):
    """Two-phase histogram selection (the outlier_audit pattern): a full
    rank window PARTITION BY event_type serializes each type's ~2.3M
    pairs into one task (measured 37 s at the 100M bench).  Instead the
    pairs are bucketed by FLOOR(slope) — a monotonic PREFIX of the
    (slope, num, den) order, so the k-th element's bucket is found from
    the tiny per-bucket histogram and only THAT bucket's rows are ever
    rank-sorted.  Pair generation broadcasts the time-bounded hourly
    aggregate, so enumeration parallelism follows the probe side, not
    the 5 type keys."""
    hourly = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) / 3600000000.0) "
        "AS BIGINT) AS h",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc"
    ).groupBy("event_type", "h").agg(F.sum("vc").alias("v"))
    a = hourly.selectExpr("event_type", "h AS h1", "v AS v1") \
        .repartition(32)
    b = hourly.selectExpr("event_type AS et2", "h AS h2", "v AS v2")
    pairs = (a.join(F.broadcast(b),
                    (a.event_type == b.et2) & (a.h1 < b.h2))
             # GREATEST(.,1) is a no-op for every surviving row (the join
             # guarantees den >= 1) but keeps ANSI mode happy: codegen can
             # evaluate the fused projection on rows the join condition
             # rejects, and a phantom den = 0 then raises DIVIDE_BY_ZERO
             .selectExpr("event_type", "v2 - v1 AS num", "h2 - h1 AS den",
                         "CAST(v2 - v1 AS DOUBLE) / GREATEST(h2 - h1, 1) "
                         "AS slope")
             .selectExpr("*", "CAST(FLOOR(slope) AS BIGINT) AS bkt"))
    hist = pairs.groupBy("event_type", "bkt").agg(
        F.count(F.lit(1)).alias("cnt"))
    wb = "PARTITION BY event_type ORDER BY bkt"
    target = (hist.selectExpr(
        "event_type", "bkt", "cnt",
        f"SUM(cnt) OVER ({wb} ROWS UNBOUNDED PRECEDING) AS cum",
        "SUM(cnt) OVER (PARTITION BY event_type) AS n_pairs")
        .selectExpr("event_type", "bkt", "cnt", "cum", "n_pairs",
                    "CAST(FLOOR((n_pairs + 1) / 2.0) AS BIGINT) AS k")
        .where("k > cum - cnt AND k <= cum")
        .selectExpr("event_type AS et3", "bkt AS bkt3",
                    "k - (cum - cnt) AS k_in", "n_pairs"))
    wr = "PARTITION BY event_type ORDER BY slope, num, den"
    return (pairs.join(F.broadcast(target),
                       (pairs.event_type == target.et3)
                       & (pairs.bkt == target.bkt3))
            .selectExpr("event_type", "num", "den", "slope", "k_in",
                        "n_pairs", f"ROW_NUMBER() OVER ({wr}) AS rk")
            .where("rk = k_in")
            .selectExpr("event_type", "CAST(n_pairs AS BIGINT) AS n_pairs",
                        "num AS med_num", "den AS med_den",
                        "ROUND(slope, 9) AS ts_slope"))


ORACLE_THEIL_SEN = """
WITH hourly AS (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS h,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
pairs AS (
  SELECT a.event_type, b.v - a.v AS num, b.h - a.h AS den,
         CAST(b.v - a.v AS DOUBLE) / (b.h - a.h) AS slope
  FROM hourly a JOIN hourly b
    ON a.event_type = b.event_type AND a.h < b.h),
ranked AS (
  SELECT event_type, num, den, slope,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY slope, num, den) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM pairs)
SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
       num AS med_num, den AS med_den, ROUND(slope, 9) AS ts_slope
FROM ranked WHERE rk = CAST(FLOOR((n_pairs + 1) / 2.0) AS BIGINT)
"""


QUERIES.update({
    "theil_sen_slope": (q_theil_sen_slope, ORACLE_THEIL_SEN),
})


# --- chisq_independence: contingency-table chi-square test ----------------------
#
# The categorical-association complement of anova_f (numeric-vs-category)
# and mann_kendall (trend): is event_type independent of day-of-week?
# The corpus-sized pass is ONE map-side-combined (type, dow) count; the
# 35-cell contingency table plus its margins are exact int64, and each
# cell's chi-square term is composed as a literal float expression of
# those integers (the spatial_autocorr rule).  Day-of-week comes from
# pure epoch-us arithmetic ((day + 4) % 7, 1970-01-01 = Thursday) so
# engine week-start conventions never enter (the seasonality_profile
# rule).  Per-type contributions sum 7 floats — order-noisy in the last
# ulp — so the output is ROUND(..., 6) (the PSI rule).

def q_chisq_independence(spark, sf_dir):
    cell = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST((FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) / 86400000000.0)"
        " + 4) % 7 AS BIGINT) AS dow"
    ).groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("o"))
    margins = cell.selectExpr(
        "event_type", "dow", "o",
        "SUM(o) OVER (PARTITION BY event_type) AS r",
        "SUM(o) OVER (PARTITION BY dow) AS c",
        "SUM(o) OVER () AS n")
    return (margins.selectExpr(
        "event_type", "o", "r",
        # (o - r*c/n)^2 / (r*c/n), composed from exact ints in one literal
        # float expression per cell
        "POW(CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) "
        "/ CAST(n AS DOUBLE), 2) / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) "
        "/ CAST(n AS DOUBLE)) AS term")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_dows"),
             F.max("r").alias("n_type"),
             F.expr("ROUND(SUM(term), 6)").alias("chi2_contrib"))
        .selectExpr("event_type", "CAST(n_dows AS BIGINT) AS n_dows",
                    "CAST(n_type AS BIGINT) AS n_type", "chi2_contrib"))


ORACLE_CHISQ = """
WITH cell AS (
  SELECT event_type,
         CAST((FLOOR(epoch_us(ts) / 86400000000.0) + 4) % 7 AS BIGINT)
           AS dow,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2),
margins AS (
  SELECT event_type, dow, o,
         CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS r,
         CAST(SUM(o) OVER (PARTITION BY dow) AS BIGINT) AS c,
         CAST(SUM(o) OVER () AS BIGINT) AS n
  FROM cell)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_dows,
       CAST(MAX(r) AS BIGINT) AS n_type,
       ROUND(SUM(POW(CAST(o AS DOUBLE) - CAST(r AS DOUBLE)
                 * CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 2)
             / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                / CAST(n AS DOUBLE))), 6) AS chi2_contrib
FROM margins GROUP BY event_type
"""


QUERIES.update({
    "chisq_independence": (q_chisq_independence, ORACLE_CHISQ),
})


# --- nearest_seed_zones: discrete Voronoi / service-area assignment ------------
#
# Assign every occupied level-12 cell to its nearest of K hashed seed
# sites (squared Chebyshev-free Euclidean distance, exact int64) — the
# service-area / coverage-zoning primitive, and the spatial analog of
# pq_codes' centroid argmin.  The argmin is ONE packed-integer MIN
# (d * 64 + seed_id: d <= 2*4095^2 < 2^26, packed < 2^32 — strict-<
# semantics with the LOWEST seed id winning ties, engine-independent by
# construction).  The corpus-sized pass is the occupancy groupBy; the
# seed fan-out (x64) lives on the occupied-cell aggregate.  Per-zone
# stats are all exact integers.

NSZ_K = 24            # seed sites
NSZ_LEVEL = 12        # 4096x4096 lattice (matches DENS_LEVEL)


def _nsz_seed_exprs() -> list:
    from .hashing import u01_sql
    n = 1 << NSZ_LEVEL
    return [
        "s AS seed_id",
        f"CAST(FLOOR({u01_sql('s * 31 + 7')} * {n}) AS BIGINT) AS sx",
        f"CAST(FLOOR({u01_sql('s * 31 + 8')} * {n}) AS BIGINT) AS sy",
    ]


def q_nearest_seed_zones(spark, sf_dir):
    """The argmin is a flat LEAST over 24 literal-seed terms (the
    pq_codes codegen pattern), NOT a seed-table join: the cross-join
    formulation re-shuffled ~16.7M occupied cells x 24 candidate rows
    through the re-group at the 100M bench; LEAST is a free projection
    and the zone rollup's map-side combine sees only 24 groups.  Seed
    coordinates come from the shared numpy hash kernel, bit-identical to
    the oracle's SQL seeds by the repo-wide hash-agreement property."""
    from .hashing import u01
    import numpy as np
    n = 1 << NSZ_LEVEL
    s = np.arange(NSZ_K)
    sx = np.floor(u01(s * 31 + 7) * n).astype(np.int64)
    sy = np.floor(u01(s * 31 + 8) * n).astype(np.int64)
    terms = ", ".join(
        f"((ix - {int(x)}) * (ix - {int(x)}) + (iy - {int(y)}) "
        f"* (iy - {int(y)})) * 64 + {k}"
        for k, (x, y) in enumerate(zip(sx, sy)))
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, NSZ_LEVEL)
    occ = (_t(spark, sf_dir, "events")
           .selectExpr(f"{ix} AS ix", f"{iy} AS iy")
           .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("n_events")))
    packed = occ.selectExpr("ix", "iy", "n_events",
                            f"LEAST({terms}) AS pk")
    return (packed.selectExpr("pk % 64 AS zone",
                              "CAST(pk / 64 AS BIGINT) AS d2",
                              "ix", "iy", "n_events")
            .groupBy("zone")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("n_events").alias("n_events"),
                 F.sum("d2").alias("sum_d2"),
                 F.max("d2").alias("max_d2"),
                 F.expr("SUM((ix * 4096 + iy) % 999983)").alias("checksum"))
            .selectExpr("CAST(zone AS BIGINT) AS zone",
                        "CAST(n_cells AS BIGINT) AS n_cells",
                        "CAST(n_events AS BIGINT) AS n_events",
                        "CAST(sum_d2 AS BIGINT) AS sum_d2",
                        "CAST(max_d2 AS BIGINT) AS max_d2",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_nsz() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, NSZ_LEVEL)
    return f"""
WITH occ AS (
  SELECT {ix} AS ix, {iy} AS iy, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2),
seeds AS (SELECT {', '.join(_nsz_seed_exprs())}
          FROM (SELECT UNNEST(GENERATE_SERIES(0, {NSZ_K - 1})) AS s) t),
packed AS (
  SELECT ix, iy, n_events,
         MIN(((ix - sx) * (ix - sx) + (iy - sy) * (iy - sy)) * 64 + seed_id)
           AS pk
  FROM occ, seeds GROUP BY 1, 2, 3)
SELECT CAST(pk % 64 AS BIGINT) AS zone,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(pk / 64) AS BIGINT)) AS BIGINT) AS sum_d2,
       CAST(MAX(CAST(FLOOR(pk / 64) AS BIGINT)) AS BIGINT) AS max_d2,
       CAST(SUM((ix * 4096 + iy) % 999983) AS BIGINT) AS checksum
FROM packed GROUP BY 1
"""


QUERIES.update({
    "nearest_seed_zones": (q_nearest_seed_zones, _oracle_nsz()),
})


# --- max_drawdown: running-peak DP vs brute-force pair oracle -------------------
#
# Maximum drawdown of the cumulative hourly cents series per event_type —
# the risk/monitoring classic.  The ENGINE runs the linear DP (running
# MAX window over the cumulative sum, one shuffle); the ORACLE runs the
# definitional brute force (max over all hour pairs i <= j of
# cum_i - cum_j, ~260k pairs per type on the time-bounded hourly
# aggregate) — two genuinely different algorithms that must agree
# exactly, int64 end to end.  The reported trough is the EARLIEST hour
# achieving the maximum drawdown (deterministic tiebreak).

def q_max_drawdown(spark, sf_dir):
    hourly = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) / 3600000000.0) "
        "AS BIGINT) AS h",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc"
    ).groupBy("event_type", "h").agg(F.sum("vc").alias("v"))
    w = "PARTITION BY event_type ORDER BY h"
    dd = hourly.selectExpr(
        "event_type", "h",
        f"SUM(v) OVER ({w} ROWS UNBOUNDED PRECEDING) AS cum").selectExpr(
        "event_type", "h", "cum",
        f"MAX(cum) OVER ({w} ROWS UNBOUNDED PRECEDING) - cum AS dd")
    return (
        dd.selectExpr("event_type", "h", "dd",
                      "MAX(dd) OVER (PARTITION BY event_type) AS mx")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_hours"),
             F.max("dd").alias("max_dd"),
             F.expr("MIN(CASE WHEN dd = mx THEN h END)").alias("trough_h"))
        .selectExpr("event_type", "CAST(n_hours AS BIGINT) AS n_hours",
                    "CAST(max_dd AS BIGINT) AS max_dd",
                    "CAST(trough_h AS BIGINT) AS trough_h"))


ORACLE_DRAWDOWN = """
WITH hourly AS (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT) AS h,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT event_type, h,
         CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY h
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM hourly),
pairs AS (
  SELECT a.event_type, b.h AS hj, a.cum - b.cum AS dd
  FROM cum a JOIN cum b
    ON a.event_type = b.event_type AND a.h <= b.h),
per_trough AS (
  SELECT event_type, hj, MAX(dd) AS dd_at_j
  FROM pairs GROUP BY 1, 2)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(MAX(dd_at_j) AS BIGINT) AS max_dd,
       CAST(MIN(CASE WHEN dd_at_j = (SELECT MAX(p2.dd_at_j) FROM per_trough
                                     p2 WHERE p2.event_type =
                                     per_trough.event_type)
                THEN hj END) AS BIGINT) AS trough_h
FROM per_trough GROUP BY event_type
"""


QUERIES.update({
    "max_drawdown": (q_max_drawdown, ORACLE_DRAWDOWN),
})


# --- ks_test: two-sample Kolmogorov-Smirnov on exact integer CDFs ---------------
#
# Completes the distribution-comparison family (distribution_drift = PSI +
# Wasserstein against a reference WINDOW; this is the two-SAMPLE test
# between event types).  The statistic is kept exact the Wasserstein way:
# D = max_c |F1(c) - F2(c)| is evaluated as the integer cross-
# multiplication |cum1*n2 - cum2*n1| over the pooled cents support, so
# the argmax and the max are engine-independent; the reported D is ONE
# int/int division.  The corpus-sized pass is one map-side-combined
# (sample, cents) count; the cumulative window runs on the value-bounded
# support (<= 49k cents rows), corpus-independent.

KS_A, KS_B = "view", "click"


def q_ks_test(spark, sf_dir):
    counts = (_t(spark, sf_dir, "events")
              .where(f"event_type IN ('{KS_A}', '{KS_B}')")
              .selectExpr(f"CAST(event_type = '{KS_A}' AS INT) AS is_a",
                          "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c")
              .groupBy("c")
              .agg(F.expr("SUM(is_a)").alias("a"),
                   F.expr("SUM(1 - is_a)").alias("b")))
    cum = counts.selectExpr(
        "c",
        "SUM(a) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum_a",
        "SUM(b) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum_b",
        "SUM(a) OVER () AS n_a", "SUM(b) OVER () AS n_b")
    gap = cum.selectExpr(
        "c", "n_a", "n_b",
        "ABS(cum_a * n_b - cum_b * n_a) AS d_num")
    return (gap.selectExpr(
        "c", "n_a", "n_b", "d_num",
        "MAX(d_num) OVER () AS d_max")
        .where("d_num = d_max")
        .groupBy().agg(
            F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"),
            F.max("d_max").alias("d_num"),
            F.min("c").alias("at_cents"))
        .selectExpr("CAST(n_a AS BIGINT) AS n_a",
                    "CAST(n_b AS BIGINT) AS n_b",
                    "CAST(d_num AS BIGINT) AS d_num",
                    "CAST(at_cents AS BIGINT) AS at_cents",
                    "ROUND(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) "
                    "* CAST(n_b AS DOUBLE)), 9) AS ks_d"))


ORACLE_KS = f"""
WITH counts AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
         CAST(SUM(CAST(event_type = '{KS_A}' AS INT)) AS BIGINT) AS a,
         CAST(SUM(1 - CAST(event_type = '{KS_A}' AS INT)) AS BIGINT) AS b
  FROM events WHERE event_type IN ('{KS_A}', '{KS_B}')
  GROUP BY 1),
cum AS (
  SELECT c,
         CAST(SUM(a) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_a,
         CAST(SUM(b) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_b,
         CAST(SUM(a) OVER () AS BIGINT) AS n_a,
         CAST(SUM(b) OVER () AS BIGINT) AS n_b
  FROM counts),
gap AS (
  SELECT c, n_a, n_b, ABS(cum_a * n_b - cum_b * n_a) AS d_num
  FROM cum),
mx AS (SELECT MAX(d_num) AS d_max FROM gap)
SELECT CAST(MAX(n_a) AS BIGINT) AS n_a, CAST(MAX(n_b) AS BIGINT) AS n_b,
       CAST(MAX(d_num) AS BIGINT) AS d_num,
       CAST(MIN(c) AS BIGINT) AS at_cents,
       ROUND(CAST(MAX(d_num) AS DOUBLE) / (CAST(MAX(n_a) AS DOUBLE)
             * CAST(MAX(n_b) AS DOUBLE)), 9) AS ks_d
FROM gap, mx WHERE gap.d_num = mx.d_max
"""


QUERIES.update({
    "ks_test": (q_ks_test, ORACLE_KS),
})


# --- kaplan_meier: survival curve with right censoring --------------------------
#
# Time-to-event survival (the churn/reliability classic): per user, the
# HOURS from first activity to the first 'error' event; users who never
# error are right-censored at the end of the observation window — a real
# censoring mechanism, not a degenerate one (first->last-activity spans
# make every user "active at window end" in a uniform-event corpus, which
# yields an empty curve — found at gate time).  The corpus-sized pass is
# ONE user-keyed aggregate (min hour, min error hour); everything after
# runs on the hour-bounded duration histogram.  At-risk and death counts
# are exact integers (reverse-cumulative window); S(t) multiplies <= span
# rational factors, so it is reported as ROUND(EXP(SUM(LN(...))), 6) — LN
# differs by 1 ulp between JVM and libm (the tfidf/user_entropy rule).


def q_kaplan_meier(spark, sf_dir):
    users = _t(spark, sf_dir, "events").selectExpr(
        "user_id",
        "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) / 3600000000.0)"
        " AS BIGINT) AS h",
        "CAST(event_type = 'error' AS INT) AS is_err"
    ).groupBy("user_id").agg(
        F.expr("MIN(h)").alias("h0"),
        F.expr("MAX(h)").alias("h1"),
        F.expr("MIN(CASE WHEN is_err = 1 THEN h END)").alias("he"))
    lived = (users
             .crossJoin(F.broadcast(
                 users.groupBy().agg(F.max("h1").alias("hmax"))))
             .selectExpr(
                 "CASE WHEN he IS NOT NULL THEN he - h0 "
                 "ELSE hmax - h0 END AS dur",
                 "CAST(he IS NOT NULL AS INT) AS churned"))
    hist = lived.groupBy("dur").agg(
        F.expr("SUM(churned)").alias("deaths"),
        F.count(F.lit(1)).alias("ending"))
    w_at = "ORDER BY dur DESC ROWS UNBOUNDED PRECEDING"
    w_km = "ORDER BY dur ROWS UNBOUNDED PRECEDING"
    return (hist.selectExpr(
        "dur", "deaths", f"SUM(ending) OVER ({w_at}) AS n_risk")
        .where("deaths > 0")
        # the last churn time can have deaths = n_risk (everyone left
        # dies): S(t) = 0 there, and LN(0) must never be evaluated
        .selectExpr(
            "dur", "deaths", "n_risk",
            f"SUM(CASE WHEN deaths = n_risk THEN 1 ELSE 0 END) "
            f"OVER ({w_km}) AS zeros",
            f"SUM(CASE WHEN deaths < n_risk THEN "
            f"LN(CAST(n_risk - deaths AS DOUBLE) / CAST(n_risk AS DOUBLE))"
            f" ELSE 0.0 END) OVER ({w_km}) AS lnsum")
        .selectExpr("CAST(dur AS BIGINT) AS dur",
                    "CAST(deaths AS BIGINT) AS deaths",
                    "CAST(n_risk AS BIGINT) AS n_risk",
                    "CASE WHEN zeros > 0 THEN 0.0 "
                    "ELSE ROUND(EXP(lnsum), 6) END AS km_survival"))


ORACLE_KM = """
WITH users AS (
  SELECT user_id,
         MIN(CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT)) AS h0,
         MAX(CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT)) AS h1,
         MIN(CASE WHEN event_type = 'error'
             THEN CAST(FLOOR(epoch_us(ts) / 3600000000.0) AS BIGINT)
             END) AS he
  FROM events GROUP BY 1),
lived AS (
  SELECT CASE WHEN he IS NOT NULL THEN he - h0
         ELSE (SELECT MAX(h1) FROM users) - h0 END AS dur,
         CAST(he IS NOT NULL AS INT) AS churned
  FROM users),
hist AS (
  SELECT dur, CAST(SUM(churned) AS BIGINT) AS deaths,
         CAST(COUNT(*) AS BIGINT) AS ending
  FROM lived GROUP BY 1),
risk AS (
  SELECT dur, deaths,
         CAST(SUM(ending) OVER (ORDER BY dur DESC ROWS UNBOUNDED
                                PRECEDING) AS BIGINT) AS n_risk
  FROM hist)
SELECT dur, deaths, n_risk,
       CASE WHEN SUM(CASE WHEN deaths = n_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) > 0 THEN 0.0
       ELSE ROUND(EXP(SUM(CASE WHEN deaths < n_risk THEN
                          LN(CAST(n_risk - deaths AS DOUBLE)
                             / CAST(n_risk AS DOUBLE)) ELSE 0.0 END)
                      OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)), 6)
       END AS km_survival
FROM (SELECT dur, deaths, n_risk FROM risk WHERE deaths > 0) t
"""


QUERIES.update({
    "kaplan_meier": (q_kaplan_meier, ORACLE_KM),
})


# --- hll_registers: deterministic HyperLogLog distinct-count sketch --------------
#
# Completes the C11 sketch trio (Bloom runtime filter, count-min heavy
# hitters, HLL cardinality) with an EXACT gate: every register value
# M_j = MAX(rank) is an order-independent integer aggregate, so the whole
# sketch state — not just the estimate — hashes bit-for-bit.  The rank
# (leading-zero count + 1 of a 32-bit hash) is computed WITHOUT float
# log2: LENGTH(bin(w)) is the minimal binary length in both dialects, so
# rank = 33 - LENGTH(bin(w)) is exact integer math.  Z = sum 2^-M_j is
# kept exact by scaling to s_num = sum 2^(33-M_j) (<= 64 * 2^33, int64;
# POWER(2, k) is exact in IEEE float64 for k <= 33 and casts exactly).
# The corpus-scale pass is the (event_type, user_id) distinct; registers
# (64/type) and the spine are corpus-independent.  Small-range linear
# counting (E <= 2.5m with empty registers) follows the published
# algorithm; LN is reported under round-6 (the JVM-vs-libm 1-ulp rule).

HLL_M = 64            # registers per group (b = 6 index bits)
HLL_ALPHA = 0.7093409548395029        # 0.7213 / (1 + 1.079 / 64)


def q_hll_registers(spark, sf_dir):
    from .hashing import mix_sql
    d = (_t(spark, sf_dir, "events")
         .select("event_type", "user_id").distinct())
    hashed = d.selectExpr(
        "event_type",
        f"({mix_sql('user_id * 3 + 1')}) % {HLL_M} AS j",
        f"{mix_sql('user_id * 5 + 2')} AS wv")
    regs = hashed.groupBy("event_type", "j").agg(
        F.expr("MAX(CASE WHEN wv = 0 THEN 33 "
               "ELSE 33 - LENGTH(bin(wv)) END)").alias("mj"))
    exact = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_distinct"))
    spine = exact.selectExpr(
        "event_type", "exact_distinct",
        f"explode(sequence(0, {HLL_M - 1})) AS j")
    full = (spine.join(regs, ["event_type", "j"], "left")
            .selectExpr("event_type", "exact_distinct",
                        "COALESCE(mj, 0) AS m"))
    agg = full.groupBy("event_type", "exact_distinct").agg(
        F.expr("SUM(CAST(POWER(2, 33 - m) AS BIGINT))").alias("s_num"),
        F.expr("SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END)").alias("n_zero"))
    raw = (f"(CAST({HLL_ALPHA!r} AS DOUBLE) * {float(HLL_M * HLL_M)!r} * "
           f"{float(2.0 ** 33)!r} / CAST(s_num AS DOUBLE))")
    est = (f"CASE WHEN {raw} <= {2.5 * HLL_M!r} AND n_zero > 0 "
           f"THEN ROUND({float(HLL_M)!r} * LN({float(HLL_M)!r} "
           f"/ CAST(n_zero AS DOUBLE)), 6) ELSE ROUND({raw}, 6) END")
    return agg.selectExpr(
        "event_type",
        "CAST(n_zero AS BIGINT) AS n_zero_regs",
        "CAST(s_num AS BIGINT) AS s_num",
        f"{est} AS hll_est",
        "CAST(exact_distinct AS BIGINT) AS exact_distinct",
        f"ROUND(({est} - exact_distinct) / CAST(exact_distinct AS DOUBLE),"
        " 6) AS rel_err")


def _oracle_hll() -> str:
    from .hashing import mix_sql
    raw = (f"(CAST({HLL_ALPHA!r} AS DOUBLE) * {float(HLL_M * HLL_M)!r} * "
           f"{float(2.0 ** 33)!r} / CAST(s_num AS DOUBLE))")
    est = (f"CASE WHEN {raw} <= {2.5 * HLL_M!r} AND n_zero > 0 "
           f"THEN ROUND({float(HLL_M)!r} * LN({float(HLL_M)!r} "
           f"/ CAST(n_zero AS DOUBLE)), 6) ELSE ROUND({raw}, 6) END")
    return f"""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
hashed AS (
  SELECT event_type,
         ({mix_sql('user_id * 3 + 1')}) % {HLL_M} AS j,
         {mix_sql('user_id * 5 + 2')} AS wv
  FROM d),
regs AS (
  SELECT event_type, j,
         MAX(CASE WHEN wv = 0 THEN 33
             ELSE 33 - LENGTH(bin(wv)) END) AS mj
  FROM hashed GROUP BY 1, 2),
exact AS (SELECT event_type, COUNT(*) AS exact_distinct FROM d GROUP BY 1),
spine AS (
  SELECT event_type, exact_distinct, u.j
  FROM exact, (SELECT UNNEST(GENERATE_SERIES(0, {HLL_M - 1})) AS j) u),
full_regs AS (
  SELECT s.event_type, s.exact_distinct, COALESCE(r.mj, 0) AS m
  FROM spine s LEFT JOIN regs r ON r.event_type = s.event_type
                               AND r.j = s.j),
agg AS (
  SELECT event_type, exact_distinct,
         SUM(CAST(POWER(2, 33 - m) AS BIGINT)) AS s_num,
         SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS n_zero
  FROM full_regs GROUP BY 1, 2)
SELECT event_type,
       CAST(n_zero AS BIGINT) AS n_zero_regs,
       CAST(s_num AS BIGINT) AS s_num,
       {est} AS hll_est,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       ROUND(({est} - exact_distinct) / CAST(exact_distinct AS DOUBLE), 6)
         AS rel_err
FROM agg
"""


QUERIES.update({
    "hll_registers": (q_hll_registers, _oracle_hll()),
})


# --- flow_direction_d8: D8 steepest-descent flow routing on the density DEM ----
#
# The O'Callaghan & Mark (1984) D8 kernel — the hydrology/GIS primitive
# behind watershed delineation — run on the event-density raster as the
# DEM (unoccupied cells are elevation 0).  EXACT by construction: for
# positive drops a, b the distance-weighted comparison a/1 > b/sqrt(2) is
# equivalent to 2*a^2 > b^2, so the per-direction score is the INTEGER
# 2*drop^2 (cardinal) / drop^2 (diagonal) and no float ever enters the
# argmax; ties break to the lowest direction index (E,NE,N,...,SE), and
# cells with no positive drop split into flat (-1, max raw drop = 0) vs
# pit (-2, all neighbors strictly higher).  Plan shape = the focal_density
# scatter: ONE constant 9-way codegen explode + one target-cell
# aggregation (8 conditional integer sums) — a single shuffle keyed by
# target cell, no joins, no Python.  int64 bound: 2*drop^2 <= 2*c_max^2
# needs c_max <= ~2.1e9 events in one cell (beyond any corpus here; move
# scores to DECIMAL(38,0) past that — the repo's money-sum rule).  Level 4
# saturates the grid at the gate SFs so pits, flats, and every direction
# class appear (level 6 left the density DEM so sparse that the steepest
# drop was almost always to an EMPTY neighbor — tiebreak behavior, not
# kernel behavior).

FLOW_LEVEL = 4
# direction index -> offset from the cell TO the neighbor
_D8 = [(1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1)]


def _d8_exprs():
    """Shared Spark/DuckDB expression strings over the projected drop
    columns d0..d7 (d_i = zc - zn_i; empty neighbors have elevation 0)."""
    scores = [
        f"(CASE WHEN d{i} > 0 THEN {('2 * ' if dx == 0 or dy == 0 else '')}"
        f"d{i} * d{i} ELSE -1 END)"
        for i, (dx, dy) in enumerate(_D8)]
    best = f"GREATEST({', '.join(scores)})"
    pick = "CASE " + " ".join(
        f"WHEN {s} = best AND best >= 1 THEN {i}" for i, s in
        enumerate(scores)) + " ELSE -9 END"
    max_drop = "GREATEST(" + ", ".join(f"d{i}" for i in range(8)) + ")"
    return scores, best, pick, max_drop


def _flow_cells(spark, sf_dir):
    """Per-cell D8 classification: (tx, ty, zc, fdir, d0..d7) for every
    occupied cell — the shared front half of flow direction/accumulation."""
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, FLOW_LEVEL)
    occ = (_t(spark, sf_dir, "events")
           .selectExpr(f"{ix} AS cx", f"{iy} AS cy")
           .groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("c")))
    sc = (occ.selectExpr("cx", "cy", "c",
                         "explode(sequence(-1, 1)) AS dx")
          .selectExpr("cx", "cy", "c", "dx",
                      "explode(sequence(-1, 1)) AS dy")
          .selectExpr("cx + dx AS tx", "cy + dy AS ty",
                      "c", "-dx AS sx", "-dy AS sy"))
    aggs = [F.expr("SUM(CASE WHEN sx = 0 AND sy = 0 THEN c ELSE 0 END)")
            .alias("zc")]
    aggs += [F.expr(f"SUM(CASE WHEN sx = {dx} AND sy = {dy} "
                    "THEN c ELSE 0 END)").alias(f"zn{i}")
             for i, (dx, dy) in enumerate(_D8)]
    aggs.append(F.expr("SUM(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END)")
                .alias("occupied"))
    g = sc.groupBy("tx", "ty").agg(*aggs).where("occupied = 1")
    scores, best, pick, max_drop = _d8_exprs()
    dstage = g.selectExpr(
        "tx", "ty", "zc", *[f"zc - zn{i} AS d{i}" for i in range(8)])
    cls = dstage.selectExpr(
        "tx", "ty", "zc", f"{best} AS best", f"{max_drop} AS max_drop",
        *[f"d{i}" for i in range(8)])
    return cls.selectExpr(
        "tx", "ty", "zc",
        f"CASE WHEN best >= 1 THEN {pick} "
        "WHEN max_drop = 0 THEN -1 ELSE -2 END AS fdir",
        *[f"d{i}" for i in range(8)])


def q_flow_direction_d8(spark, sf_dir):
    chosen = "CASE " + " ".join(
        f"WHEN fdir = {i} THEN d{i}" for i in range(8)) + " ELSE 0 END"
    return (_flow_cells(spark, sf_dir)
            .selectExpr("fdir", f"{chosen} AS chosen_drop", "zc")
            .groupBy("fdir")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("chosen_drop").alias("sum_drop"),
                 F.sum("zc").alias("sum_elev"))
            .selectExpr("CAST(fdir AS INT) AS fdir",
                        "CAST(n_cells AS BIGINT) AS n_cells",
                        "CAST(sum_drop AS BIGINT) AS sum_drop",
                        "CAST(sum_elev AS BIGINT) AS sum_elev"))


def _flow_oracle_cte() -> str:
    """The shared oracle CTE chain occ→sc→g→dstage→cls→dirs; `dirs` has
    (tx, ty, zc, fdir, d0..d7) — the twin of _flow_cells."""
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, FLOW_LEVEL)
    scores, best, pick, max_drop = _d8_exprs()
    zn_sums = ",\n         ".join(
        f"SUM(CASE WHEN sx = {dx} AND sy = {dy} THEN c ELSE 0 END) AS zn{i}"
        for i, (dx, dy) in enumerate(_D8))
    d_cols = ", ".join(f"zc - zn{i} AS d{i}" for i in range(8))
    return f"""occ AS (
  SELECT {ix} AS cx, {iy} AS cy, COUNT(*) AS c FROM events GROUP BY 1, 2),
sc AS (
  SELECT cx + dx.d AS tx, cy + dy.d AS ty, c,
         -dx.d AS sx, -dy.d AS sy
  FROM occ, (SELECT UNNEST([-1, 0, 1]) AS d) dx,
       (SELECT UNNEST([-1, 0, 1]) AS d) dy),
g AS (
  SELECT tx, ty,
         SUM(CASE WHEN sx = 0 AND sy = 0 THEN c ELSE 0 END) AS zc,
         {zn_sums},
         SUM(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END) AS occupied
  FROM sc GROUP BY 1, 2),
dstage AS (
  SELECT tx, ty, zc, {d_cols} FROM g WHERE occupied = 1),
cls AS (
  SELECT tx, ty, zc, {best} AS best, {max_drop} AS max_drop,
         {', '.join(f'd{i}' for i in range(8))}
  FROM dstage),
dirs AS (
  SELECT tx, ty, zc,
         CASE WHEN best >= 1 THEN {pick}
              WHEN max_drop = 0 THEN -1 ELSE -2 END AS fdir,
         {', '.join(f'd{i}' for i in range(8))}
  FROM cls)"""


def _oracle_flow_d8() -> str:
    chosen = "CASE " + " ".join(
        f"WHEN fdir = {i} THEN d{i}" for i in range(8)) + " ELSE 0 END"
    return f"""
WITH {_flow_oracle_cte()}
SELECT CAST(fdir AS INT) AS fdir,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM({chosen}) AS BIGINT) AS sum_drop,
       CAST(SUM(zc) AS BIGINT) AS sum_elev
FROM dirs GROUP BY 1
"""


QUERIES.update({
    "flow_direction_d8": (q_flow_direction_d8, _oracle_flow_d8()),
})


# --- idw_interpolate: inverse-distance-weighted fill of empty raster cells -----
#
# The Shepard-interpolation raster op (gap-filling a sparse measurement
# grid): every UNOCCUPIED level-8 cell with >=1 occupied 8-neighbor gets
# value = sum(w_i * z_i) / sum(w_i), w = 1/d^2.  EXACT: on the integer
# cell grid the only neighbor distances are d^2 in {1, 2}, so scaling by
# K = 2 makes every weight an integer (cardinal 2, diagonal 1); the cell
# field z is the per-cell SUM of integer event-value cents (FLOOR(v*100
# + 0.5) — the repo's half-up rule); num and den are exact int64
# aggregates and the IDW value is ONE int/int float division, bit-equal
# on any engine or aggregation order.  Plan shape: one groupBy to build
# the field, one constant 9-way scatter explode, one target-cell
# aggregation — two shuffles, no joins, no Python; output is bounded by
# 8x the occupied-cell count (grid-bounded, corpus-independent).

IDW_LEVEL = 8


def q_idw_interpolate(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, IDW_LEVEL)
    occ = (_t(spark, sf_dir, "events")
           .selectExpr(f"{ix} AS cx", f"{iy} AS cy",
                       "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc")
           .groupBy("cx", "cy").agg(F.sum("vc").alias("zv")))
    sc = (occ.selectExpr("cx", "cy", "zv",
                         "explode(sequence(-1, 1)) AS dx")
          .selectExpr("cx", "cy", "zv", "dx",
                      "explode(sequence(-1, 1)) AS dy")
          .selectExpr(
              "cx + dx AS tx", "cy + dy AS ty", "zv",
              "CASE WHEN dx = 0 AND dy = 0 THEN 0 "
              "WHEN dx = 0 OR dy = 0 THEN 2 ELSE 1 END AS w",
              "CAST(dx = 0 AND dy = 0 AS INT) AS is_center"))
    g = (sc.groupBy("tx", "ty")
         .agg(F.expr("SUM(w * zv)").alias("num"),
              F.expr("SUM(w)").alias("den"),
              F.expr("SUM(is_center)").alias("occupied"))
         .where("occupied = 0 AND den > 0"))
    return g.selectExpr(
        "CAST(tx AS BIGINT) AS tx", "CAST(ty AS BIGINT) AS ty",
        "CAST(num AS BIGINT) AS num", "CAST(den AS BIGINT) AS den",
        "CAST(num AS DOUBLE) / den AS idw_cents")


def _oracle_idw() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, IDW_LEVEL)
    return f"""
WITH occ AS (
  SELECT {ix} AS cx, {iy} AS cy,
         SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS zv
  FROM events GROUP BY 1, 2),
sc AS (
  SELECT cx + dx.d AS tx, cy + dy.d AS ty, zv,
         CASE WHEN dx.d = 0 AND dy.d = 0 THEN 0
              WHEN dx.d = 0 OR dy.d = 0 THEN 2 ELSE 1 END AS w,
         CAST(dx.d = 0 AND dy.d = 0 AS INT) AS is_center
  FROM occ, (SELECT UNNEST([-1, 0, 1]) AS d) dx,
       (SELECT UNNEST([-1, 0, 1]) AS d) dy),
g AS (
  SELECT tx, ty, SUM(w * zv) AS num, SUM(w) AS den
  FROM sc GROUP BY 1, 2
  HAVING SUM(is_center) = 0 AND SUM(w) > 0)
SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
       CAST(num AS BIGINT) AS num, CAST(den AS BIGINT) AS den,
       CAST(num AS DOUBLE) / den AS idw_cents
FROM g
"""


QUERIES.update({
    "idw_interpolate": (q_idw_interpolate, _oracle_idw()),
})


# --- pps_sample: deterministic probability-proportional-to-size sampling -------
#
# The corpus-mixing EXECUTION step (mixture_weights is the plan): Bernoulli
# PPS / Poisson sampling where doc i is kept with probability w_i / w_max
# (w = n_chars).  The acceptance test is ALL-INTEGER — keep iff
# mix(doc_id) * w_max < w * 2^32 — so the sample is bit-identical on any
# engine, partitioning, or cluster size (the property that makes a
# training-data sample reproducible across reruns).  Bounds: mix < 2^32
# and w <= ~1e5 chars keep both products < 2^49 (ANSI-safe int64).  The
# global w_max scalar is a 1-row broadcast joined map-side; everything
# else is a filter + map-side-combinable aggregate — one real shuffle on
# `source`.  Per-source output carries exact integer tallies plus the
# sampled vs expected inclusion fractions as single int/int divisions
# (expected_frac = SUM(w)/(n*w_max) = mean inclusion probability).

def q_pps_sample(spark, sf_dir):
    from .hashing import mix_sql
    d = (_t(spark, sf_dir, "documents")
         .selectExpr("doc_id", "source", "n_chars AS w",
                     f"{mix_sql('doc_id')} AS h"))
    wmax = d.groupBy().agg(F.max("w").alias("w_max"))
    j = d.crossJoin(F.broadcast(wmax))
    tagged = j.selectExpr(
        "source", "w", "w_max",
        "CAST(h * w_max < w * 4294967296 AS INT) AS kept")
    return (tagged.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("kept").alias("n_sampled"),
                 F.expr("SUM(kept * w)").alias("w_sampled"),
                 F.sum("w").alias("w_total"),
                 F.max("w_max").alias("w_max"))
            .selectExpr(
                "source",
                "CAST(n_docs AS BIGINT) AS n_docs",
                "CAST(n_sampled AS BIGINT) AS n_sampled",
                "CAST(w_sampled AS BIGINT) AS w_sampled",
                "CAST(n_sampled AS DOUBLE) / n_docs AS sampled_frac",
                "CAST(w_total AS DOUBLE) / (n_docs * w_max) "
                "AS expected_frac"))


def _oracle_pps() -> str:
    from .hashing import mix_sql
    return f"""
WITH d AS (
  SELECT doc_id, source, n_chars AS w, {mix_sql('doc_id')} AS h
  FROM documents),
mx AS (SELECT MAX(w) AS w_max FROM d),
tagged AS (
  SELECT source, w, w_max,
         CAST(h * w_max < w * 4294967296 AS INT) AS kept
  FROM d, mx)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_sampled,
       CAST(SUM(kept * w) AS BIGINT) AS w_sampled,
       CAST(SUM(kept) AS DOUBLE) / COUNT(*) AS sampled_frac,
       CAST(SUM(w) AS DOUBLE) / (COUNT(*) * MAX(w_max)) AS expected_frac
FROM tagged GROUP BY 1
"""


QUERIES.update({
    "pps_sample": (q_pps_sample, _oracle_pps()),
})


# --- soundex_blocking: phonetic blocking for record linkage ---------------------
#
# The classic entity-resolution BLOCKING step: group candidate strings by
# a phonetic key so the quadratic matcher only runs inside blocks.  The
# code is American Soundex WITHOUT the H/W non-separator exception
# (documented variant; robert/rupert -> R163 still holds), implemented
# from scratch in dialect-shared SQL because DuckDB has no soundex() and
# matching Spark's builtin edge-for-edge would gate on an opaque JVM
# implementation: TRANSLATE maps letters to digit classes, six regexp
# passes collapse each digit's runs (RE2 has no pattern backreferences,
# so no '([1-6])\\1+'), zeros (vowels) drop AFTER collapsing so
# vowel-separated repeats survive — the standard rule.  Plan shape:
# tokenize-explode + two map-side-combinable aggregations; block stats
# are bounded by the phonetic code space (26 * 7^3), corpus-independent.
# Candidate-pair count per block is the exact n*(n-1)/2 over DISTINCT
# tokens — the number the matcher would actually face.

_SOUNDEX_MAP = "01230120022455012623010202"  # a..z -> digit class


def _soundex_sql(tok: str, dialect: str) -> str:
    """Phonetic code of lowercase alpha token `tok` (shared semantics;
    only the regexp_replace global-flag spelling differs by dialect)."""
    d = f"TRANSLATE({tok}, 'abcdefghijklmnopqrstuvwxyz', '{_SOUNDEX_MAP}')"
    for digit in "123456":
        if dialect == "spark":
            d = f"regexp_replace({d}, '{digit}{{2,}}', '{digit}')"
        else:
            d = f"regexp_replace({d}, '{digit}{{2,}}', '{digit}', 'g')"
    tail = f"REPLACE(SUBSTR({d}, 2), '0', '')"
    return (f"(UPPER(SUBSTR({tok}, 1, 1)) || "
            f"SUBSTR(RPAD({tail}, 3, '0'), 1, 3))")


def q_soundex_blocking(spark, sf_dir):
    toks = (_t(spark, sf_dir, "documents")
            .selectExpr("explode(split(text, ' ')) AS tok")
            .where("LENGTH(tok) >= 2 AND "
                   "TRANSLATE(tok, 'abcdefghijklmnopqrstuvwxyz', '') = ''"))
    coded = toks.selectExpr(
        "tok", f"{_soundex_sql('tok', 'spark')} AS code")
    per_tok = (coded.groupBy("code", "tok")
               .agg(F.count(F.lit(1)).alias("n_occ")))
    return (per_tok.groupBy("code")
            .agg(F.count(F.lit(1)).alias("n_distinct_tokens"),
                 F.sum("n_occ").alias("n_tokens"),
                 F.min("tok").alias("first_token"))
            .selectExpr(
                "code",
                "CAST(n_distinct_tokens AS BIGINT) AS n_distinct_tokens",
                "CAST(n_tokens AS BIGINT) AS n_tokens",
                "CAST(n_distinct_tokens * (n_distinct_tokens - 1) / 2 "
                "AS BIGINT) AS n_candidate_pairs",
                "first_token"))


def _oracle_soundex() -> str:
    code = _soundex_sql("tok", "duckdb")
    return f"""
WITH toks AS (
  SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
ok AS (
  SELECT tok FROM toks
  WHERE LENGTH(tok) >= 2
    AND TRANSLATE(tok, 'abcdefghijklmnopqrstuvwxyz', '') = ''),
coded AS (SELECT tok, {code} AS code FROM ok),
per_tok AS (
  SELECT code, tok, COUNT(*) AS n_occ FROM coded GROUP BY 1, 2),
blocks AS (
  SELECT code, COUNT(*) AS n_distinct_tokens, SUM(n_occ) AS n_tokens,
         MIN(tok) AS first_token
  FROM per_tok GROUP BY 1)
SELECT code,
       CAST(n_distinct_tokens AS BIGINT) AS n_distinct_tokens,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_distinct_tokens * (n_distinct_tokens - 1) / 2 AS BIGINT)
         AS n_candidate_pairs,
       first_token
FROM blocks
"""


QUERIES.update({
    "soundex_blocking": (q_soundex_blocking, _oracle_soundex()),
})


# --- flow_accumulation: upstream-cell counts over the D8 flow forest ----------
#
# The second half of the hydrology pair (flow direction -> flow
# accumulation -> stream network): acc(c) = number of cells whose D8
# pointer chain passes through c, itself included.  The pointer graph is
# acyclic BY CONSTRUCTION — a pointer only exists for a strictly positive
# drop, so elevation strictly decreases along every chain and the
# iteration acc <- 1 + sum(acc of immediate upstream cells) reaches its
# fixed point after max-chain-length rounds.  Spark runs that iteration
# distributed (one join + one groupBy per round, localCheckpoint caps
# plan depth — the connected_components pattern); the driver holds ONE
# scalar (the convergence total) per round.  Pointers that leave the
# occupied cell set drain off-raster (outlets) and contribute nothing.
# The DuckDB twin is an independent recursive walk CTE counting visits
# per cell.  At depth D the Spark cost is D bounded shuffles of the
# (bounded) grid; for deep chains switch to the pointer-doubling variant
# in graph.py (O(log D) rounds) — same trade documented there.

def _flow_next_exprs():
    nx = "CASE " + " ".join(
        f"WHEN fdir = {i} THEN tx + ({dx})"
        for i, (dx, dy) in enumerate(_D8)) + " END"
    ny = "CASE " + " ".join(
        f"WHEN fdir = {i} THEN ty + ({dy})"
        for i, (dx, dy) in enumerate(_D8)) + " END"
    return nx, ny


def q_flow_accumulation(spark, sf_dir):
    nx, ny = _flow_next_exprs()
    base = (_flow_cells(spark, sf_dir)
            .selectExpr("tx", "ty", f"{nx} AS nx", f"{ny} AS ny")
            .localCheckpoint())
    occ = base.select("tx", "ty")
    edges = (base.where("nx IS NOT NULL")
             .join(occ.selectExpr("tx AS ox", "ty AS oy"),
                   (F.col("nx") == F.col("ox")) & (F.col("ny") == F.col("oy")),
                   "leftsemi")
             .select("tx", "ty", "nx", "ny")
             .localCheckpoint())
    acc = occ.withColumn("acc", F.lit(1)).localCheckpoint()
    prev = acc.count()          # sum(acc) at round 0: every acc = 1
    for _ in range(4096):       # hard bound >> any possible chain length
        contrib = (acc.join(edges, ["tx", "ty"])
                   .groupBy("nx", "ny").agg(F.sum("acc").alias("up")))
        acc = (occ.join(contrib,
                        (occ.tx == contrib.nx) & (occ.ty == contrib.ny),
                        "left")
               .selectExpr("tx", "ty", "1 + COALESCE(up, 0) AS acc")
               .localCheckpoint())
        total = acc.agg(F.sum("acc")).first()[0]
        if total == prev:       # monotone non-decreasing -> fixed point
            break
        prev = total
    return (acc.groupBy("acc")
            .agg(F.count(F.lit(1)).alias("n_cells"))
            .selectExpr("CAST(acc AS BIGINT) AS acc",
                        "CAST(n_cells AS BIGINT) AS n_cells"))


def _oracle_flow_acc() -> str:
    nx, ny = _flow_next_exprs()
    return f"""
WITH RECURSIVE {_flow_oracle_cte()},
nextp AS (
  SELECT tx, ty, {nx} AS nx, {ny} AS ny FROM dirs),
edges AS (
  SELECT n.tx, n.ty, n.nx, n.ny FROM nextp n
  WHERE n.nx IS NOT NULL
    AND EXISTS (SELECT 1 FROM nextp o WHERE o.tx = n.nx AND o.ty = n.ny)),
walk(px, py) AS (
  SELECT tx, ty FROM nextp
  UNION ALL
  SELECT e.nx, e.ny FROM walk w JOIN edges e ON e.tx = w.px AND e.ty = w.py),
acc AS (SELECT px, py, COUNT(*) AS acc FROM walk GROUP BY 1, 2)
SELECT CAST(acc AS BIGINT) AS acc, CAST(COUNT(*) AS BIGINT) AS n_cells
FROM acc GROUP BY 1
"""


QUERIES.update({
    "flow_accumulation": (q_flow_accumulation, _oracle_flow_acc()),
})


# --- watershed_labels: drainage-basin labeling over the D8 forest -------------
#
# The third hydrology primitive (direction -> accumulation -> WATERSHED
# delineation): every cell is labeled by the OUTLET its chain drains to —
# a root is a pit/flat cell or a cell whose pointer exits the occupied
# set.  Spark resolves roots by POINTER DOUBLING (p <- p(p), roots are
# self-loops so the composition is total): O(log depth) rounds, each one
# self-equi-join + localCheckpoint, driver holds one changed-count
# scalar — the scale shape for long chains where the accumulation-style
# per-step iteration would need O(depth) rounds.  The oracle walks every
# chain to its root with an independent recursive CTE.  Per-basin output
# (outlet, member count, drained elevation mass) is grid-bounded.

def q_watershed_labels(spark, sf_dir):
    nx, ny = _flow_next_exprs()
    base = (_flow_cells(spark, sf_dir)
            .selectExpr("tx", "ty", "zc", f"{nx} AS nx", f"{ny} AS ny")
            .localCheckpoint())
    occ = base.select("tx", "ty", "zc")
    edges = (base.where("nx IS NOT NULL")
             .join(occ.selectExpr("tx AS ox", "ty AS oy"),
                   (F.col("nx") == F.col("ox")) & (F.col("ny") == F.col("oy")),
                   "leftsemi")
             .select("tx", "ty", "nx", "ny"))
    # parent map, total: roots (no out-edge into the occupied set) loop
    ptr = (occ.join(edges, ["tx", "ty"], "left")
           .selectExpr("tx", "ty",
                       "COALESCE(nx, tx) AS rx", "COALESCE(ny, ty) AS ry")
           .localCheckpoint())
    for _ in range(64):          # 2^64 cells >> any chain: log-depth bound
        hop = ptr.selectExpr("tx AS htx", "ty AS hty",
                             "rx AS hrx", "ry AS hry")
        nxt = (ptr.join(hop, (F.col("rx") == F.col("htx"))
                        & (F.col("ry") == F.col("hty")))
               .selectExpr("tx", "ty", "hrx AS rx", "hry AS ry")
               .localCheckpoint())
        changed = (nxt.selectExpr("tx", "ty", "rx", "ry")
                   .exceptAll(ptr.selectExpr("tx", "ty", "rx", "ry"))
                   .count())
        ptr = nxt
        if changed == 0:
            break
    return (ptr.join(occ, ["tx", "ty"])
            .groupBy("rx", "ry")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("zc").alias("sum_elev"))
            .selectExpr("CAST(rx AS BIGINT) AS rx", "CAST(ry AS BIGINT) AS ry",
                        "CAST(n_cells AS BIGINT) AS n_cells",
                        "CAST(sum_elev AS BIGINT) AS sum_elev"))


def _oracle_watershed() -> str:
    nx, ny = _flow_next_exprs()
    return f"""
WITH RECURSIVE {_flow_oracle_cte()},
nextp AS (
  SELECT tx, ty, zc, {nx} AS nx, {ny} AS ny FROM dirs),
edges AS (
  SELECT n.tx, n.ty, n.nx, n.ny FROM nextp n
  WHERE n.nx IS NOT NULL
    AND EXISTS (SELECT 1 FROM nextp o WHERE o.tx = n.nx AND o.ty = n.ny)),
walk(sx, sy, px, py) AS (
  SELECT tx, ty, tx, ty FROM nextp
  UNION ALL
  SELECT w.sx, w.sy, e.nx, e.ny
  FROM walk w JOIN edges e ON e.tx = w.px AND e.ty = w.py),
roots AS (
  SELECT w.sx, w.sy, w.px AS rx, w.py AS ry
  FROM walk w
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.tx = w.px AND e.ty = w.py))
SELECT CAST(r.rx AS BIGINT) AS rx, CAST(r.ry AS BIGINT) AS ry,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(n.zc) AS BIGINT) AS sum_elev
FROM roots r JOIN nextp n ON n.tx = r.sx AND n.ty = r.sy
GROUP BY 1, 2
"""


QUERIES.update({
    "watershed_labels": (q_watershed_labels, _oracle_watershed()),
})


# --- map_match_segments: snap points to the nearest road segment -----------------
#
# The map-matching primitive (GPS trace -> road network conformance):
# every occupied level-10 grid cell snaps to the road SEGMENT minimizing
# point-to-segment distance.  Exactness trick: all 24 road segments share
# ONE squared length (integer direction vectors of norm^2 = 2500), so the
# clamped-projection distance d^2 = |v|^2 - dot^2/|d|^2 becomes the
# common-denominator integer numerator
#     dnum = |v|^2 * 2500 - dot^2        (interior;  >= 0 by Cauchy-Schwarz)
#     dnum = |p-a|^2 * 2500 / |p-b|^2 * 2500   (clamped endpoints)
# so the argmin is a plain integer MIN over the packed key dnum*32+seg
# (seg < 32 breaks ties toward the lower id) — no rational comparison, no
# float.  Scale shape: the network is a FORMULA (shared constants embed as
# literals in both engines), so matching is a LEAST() over 24 unrolled
# codegen expressions — zero joins, zero extra shuffle; the only
# corpus-scale pass is the occupied-cell groupBy.  Per-segment output is
# bounded by the network size.

MM_LEVEL = 10
MM_LEN2 = 2500
# integer lattice directions with |d|^2 = 2500 (Pythagorean spectrum)
_MM_DIRS = [(50, 0), (0, 50), (30, 40), (40, 30),
            (48, 14), (14, 48), (40, -30), (48, -14)]


def road_segments(n: int = 24) -> list[tuple[int, int, int, int, int]]:
    """The deterministic road network: (seg, ax, ay, dx, dy); b = a + d."""
    from .hashing import mix
    out = []
    for s in range(n):
        ax = int(mix(s * 7 + 1) % 960)
        ay = int(mix(s * 7 + 2) % 960)
        dx, dy = _MM_DIRS[int(mix(s * 7 + 3) % len(_MM_DIRS))]
        out.append((s, ax, ay, dx, dy))
    return out


def _mm_key_sql(px: str, py: str) -> str:
    """Packed argmin key MIN_s(dnum_s * 32 + s) as one LEAST() expression
    of integer point columns — identical text in Spark SQL and DuckDB."""
    terms = []
    for s, ax, ay, dx, dy in road_segments():
        vx, vy = f"(({px}) - {ax})", f"(({py}) - {ay})"
        wx, wy = f"(({px}) - {ax + dx})", f"(({py}) - {ay + dy})"
        dot = f"({vx} * ({dx}) + {vy} * ({dy}))"
        v2 = f"({vx} * {vx} + {vy} * {vy})"
        w2 = f"({wx} * {wx} + {wy} * {wy})"
        dnum = (f"(CASE WHEN {dot} <= 0 THEN {v2} * {MM_LEN2} "
                f"WHEN {dot} >= {MM_LEN2} THEN {w2} * {MM_LEN2} "
                f"ELSE {v2} * {MM_LEN2} - {dot} * {dot} END)")
        terms.append(f"({dnum} * 32 + {s})")
    return "LEAST(" + ", ".join(terms) + ")"


def q_map_match_segments(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, MM_LEVEL)
    occ = (_t(spark, sf_dir, "events")
           .selectExpr(f"{ix} AS px", f"{iy} AS py")
           .groupBy("px", "py").agg(F.count(F.lit(1)).alias("c")))
    key = _mm_key_sql("px", "py")
    m = occ.selectExpr("px", "py", "c", f"{key} AS k") \
           .selectExpr("px", "py", "c",
                       "CAST(k % 32 AS INT) AS seg",
                       "CAST(FLOOR(k / 32) AS BIGINT) AS dnum")
    return (m.groupBy("seg")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("c").alias("n_points"),
                 F.sum("dnum").alias("sum_dnum"),
                 F.expr("SUM((px * 1024 + py) * c)").alias("checksum"))
            .selectExpr("seg", "CAST(n_cells AS BIGINT) AS n_cells",
                        "CAST(n_points AS BIGINT) AS n_points",
                        "CAST(sum_dnum AS BIGINT) AS sum_dnum",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_map_match() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, MM_LEVEL)
    key = _mm_key_sql("px", "py")
    return f"""
WITH occ AS (
  SELECT {ix} AS px, {iy} AS py, COUNT(*) AS c FROM events GROUP BY 1, 2),
m AS (
  SELECT px, py, c, CAST(({key}) % 32 AS INT) AS seg,
         CAST(FLOOR(({key}) / 32) AS BIGINT) AS dnum
  FROM occ)
SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c) AS BIGINT) AS n_points,
       CAST(SUM(dnum) AS BIGINT) AS sum_dnum,
       CAST(SUM((px * 1024 + py) * c) AS BIGINT) AS checksum
FROM m GROUP BY 1
"""


QUERIES.update({
    "map_match_segments": (q_map_match_segments, _oracle_map_match()),
})


# --- sobel_edge_stats: Sobel gradient energy over real decoded bytes -------------
#
# The blur/edge-content QA filter (B11 family — a curation pipeline drops
# near-uniform or over-sharp images): decode real raw/png bytes, run the
# 3x3 Sobel operator on the green channel, and reduce each image to the
# exact-int64 interior energy SUM(|gx| + |gy|).  The kernel is one sliced
# whole-stack convolution per (w, h, fmt) decode group
# (multimodal.sobel_checksums); the oracle re-derives every gradient from
# the generator formula P(y,x,1) = mix(i*1000003 + y*4096 + x*4 + 1) % 256
# by 6-point lattice sums — a genuinely independent computation path
# (bytes -> codec -> numpy slices vs formula -> SQL lattice).  Lossy qb is
# excluded (quantized reconstruction would break bit-exactness; its decode
# is PSNR-gated in pytest instead).

SOBEL_N = 24


def q_sobel_edge_stats(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, SOBEL_N, partitions=4).where(
        F.col("fmt") != "qb")
    e = multimodal.sobel_checksums(img)
    withi = e.selectExpr(
        "energy", "CAST(substr(image_id, 4) AS BIGINT) AS i",
        "CASE WHEN CAST(substr(image_id, 4) AS BIGINT) % 3 = 0 "
        "THEN 'raw' ELSE 'png' END AS fmt")
    return (withi.groupBy("fmt")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("energy").alias("sum_energy"),
                 F.min("energy").alias("min_energy"),
                 F.max("energy").alias("max_energy"),
                 F.expr("SUM(energy * (i + 7))").alias("checksum"))
            .selectExpr("fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(sum_energy AS BIGINT) AS sum_energy",
                        "CAST(min_energy AS BIGINT) AS min_energy",
                        "CAST(max_energy AS BIGINT) AS max_energy",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_sobel() -> str:
    from .hashing import mix_sql
    m = fixtures.images_meta_sql("i")

    def p(dy: int, dx: int) -> str:
        key = (f"i * 1000003 + (yy.y + {dy}) * 4096 "
               f"+ (xx.x + {dx}) * 4 + 1")
        return f"(({mix_sql(key)}) % 256)"

    gx = (f"(({p(-1, 1)} + 2 * {p(0, 1)} + {p(1, 1)}) "
          f"- ({p(-1, -1)} + 2 * {p(0, -1)} + {p(1, -1)}))")
    gy = (f"(({p(1, -1)} + 2 * {p(1, 0)} + {p(1, 1)}) "
          f"- ({p(-1, -1)} + 2 * {p(-1, 0)} + {p(-1, 1)}))")
    return f"""
WITH imgs AS (
  SELECT i, {m['w']} AS w, {m['h']} AS h,
         CASE WHEN i % 3 = 0 THEN 'raw' ELSE 'png' END AS fmt
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {SOBEL_N - 1})) AS i) t
  WHERE i % 3 <> 2),
grad AS (
  SELECT i, fmt, ABS({gx}) + ABS({gy}) AS g
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(1, h - 2)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(1, w - 2)) AS x) xx),
per AS (SELECT i, fmt, SUM(g) AS energy FROM grad GROUP BY 1, 2)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(energy) AS BIGINT) AS sum_energy,
       CAST(MIN(energy) AS BIGINT) AS min_energy,
       CAST(MAX(energy) AS BIGINT) AS max_energy,
       CAST(SUM(energy * (i + 7)) AS BIGINT) AS checksum
FROM per GROUP BY 1
"""


QUERIES.update({
    "sobel_edge_stats": (q_sobel_edge_stats, _oracle_sobel()),
})


# --- canny_edge_stats: full Canny over real decoded bytes ---------------------
#
# The named edge detector completing the CV family (Sobel energy /
# Harris / Hough / BRIEF already gated): 3×3 Sobel on the green channel,
# direction quantized by the RATIONAL 5|gy| ⋚ 2|gx| rule (tan 22.5° ≈
# 2/5 — exact int64), non-maximum suppression along the gradient with a
# deterministic tie-break (> forward, ≥ backward), double threshold on
# g², and TRUE hysteresis — weak survivors 8-connected to a strong
# survivor (binary-dilation fixpoint in the kernel; recursive-CTE
# reachability in the oracle, the dedup_clusters precedent).  σ=0 blur
# documented in multimodal.canny_stats.  raw/png only (bit-exact
# decode); the oracle re-derives every pixel from the generator formula
# — a genuinely independent path.

CANNY_N = 18
CANNY_LO2 = 200_000
CANNY_HI2 = 330_000


def q_canny_edge_stats(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, CANNY_N, partitions=4).where(
        F.col("fmt") != "qb")
    e = multimodal.canny_stats(img, CANNY_LO2, CANNY_HI2)
    withi = e.selectExpr(
        "n_strong", "n_weak", "n_final", "edge_checksum",
        "CAST(substr(image_id, 4) AS BIGINT) AS i",
        "CASE WHEN CAST(substr(image_id, 4) AS BIGINT) % 3 = 0 "
        "THEN 'raw' ELSE 'png' END AS fmt")
    return (withi.groupBy("fmt")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_strong").alias("strong_px"),
                 F.sum("n_weak").alias("weak_px"),
                 F.sum("n_final").alias("final_px"),
                 F.sum("edge_checksum").alias("checksum"))
            .selectExpr("fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(strong_px AS BIGINT) AS strong_px",
                        "CAST(weak_px AS BIGINT) AS weak_px",
                        "CAST(final_px AS BIGINT) AS final_px",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_canny() -> str:
    from .hashing import mix_sql
    m = fixtures.images_meta_sql("i")

    def p(dy: int, dx: int) -> str:
        key = (f"i * 1000003 + (yy.y + {dy}) * 4096 "
               f"+ (xx.x + {dx}) * 4 + 1")
        return f"(({mix_sql(key)}) % 256)"

    gx = (f"(({p(-1, 1)} + 2 * {p(0, 1)} + {p(1, 1)}) "
          f"- ({p(-1, -1)} + 2 * {p(0, -1)} + {p(1, -1)}))")
    gy = (f"(({p(1, -1)} + 2 * {p(1, 0)} + {p(1, 1)}) "
          f"- ({p(-1, -1)} + 2 * {p(-1, 0)} + {p(-1, 1)}))")
    return f"""
WITH RECURSIVE imgs AS (
  SELECT i, {m['w']} AS w, {m['h']} AS h,
         CASE WHEN i % 3 = 0 THEN 'raw' ELSE 'png' END AS fmt
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {CANNY_N - 1})) AS i) t
  WHERE i % 3 <> 2),
grad AS MATERIALIZED (
  SELECT i, fmt, w, h, yy.y AS y, xx.x AS x,
         {gx} AS gx, {gy} AS gy
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(1, h - 2)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(1, w - 2)) AS x) xx),
g2t AS MATERIALIZED (
  SELECT i, fmt, y, x, gx * gx + gy * gy AS g2,
         CASE WHEN 5 * ABS(gy) <= 2 * ABS(gx) THEN 0
              WHEN 5 * ABS(gx) <= 2 * ABS(gy) THEN 2
              WHEN gx * gy > 0 THEN 1 ELSE 3 END AS s
  FROM grad),
nms AS MATERIALIZED (
  SELECT g.i, g.fmt, g.y, g.x, g.g2
  FROM g2t g
  LEFT JOIN g2t f ON f.i = g.i
    AND f.y = g.y + CASE g.s WHEN 0 THEN 0 WHEN 1 THEN 1
                             WHEN 2 THEN 1 ELSE -1 END
    AND f.x = g.x + CASE g.s WHEN 0 THEN 1 WHEN 1 THEN 1
                             WHEN 2 THEN 0 ELSE 1 END
  LEFT JOIN g2t b ON b.i = g.i
    AND b.y = g.y - CASE g.s WHEN 0 THEN 0 WHEN 1 THEN 1
                             WHEN 2 THEN 1 ELSE -1 END
    AND b.x = g.x - CASE g.s WHEN 0 THEN 1 WHEN 1 THEN 1
                             WHEN 2 THEN 0 ELSE 1 END
  WHERE g.g2 > COALESCE(f.g2, -1) AND g.g2 >= COALESCE(b.g2, -1)),
cand AS MATERIALIZED (
  SELECT i, fmt, y, x,
         CASE WHEN g2 >= {CANNY_HI2} THEN 1 ELSE 0 END AS strong
  FROM nms WHERE g2 >= {CANNY_LO2}),
reach AS (
  SELECT i, y, x FROM cand WHERE strong = 1
  UNION
  SELECT c.i, c.y, c.x
  FROM reach r JOIN cand c
    ON c.i = r.i AND ABS(c.y - r.y) <= 1 AND ABS(c.x - r.x) <= 1
   AND NOT (c.y = r.y AND c.x = r.x)),
per AS (
  SELECT c.i, c.fmt,
         SUM(c.strong) AS n_strong,
         SUM(1 - c.strong) AS n_weak,
         SUM(CASE WHEN r.y IS NOT NULL THEN 1 ELSE 0 END) AS n_final,
         SUM(CASE WHEN r.y IS NOT NULL
             THEN (c.i + 1) * (c.y * 4096 + c.x) ELSE 0 END) AS chk
  FROM cand c LEFT JOIN (SELECT DISTINCT i, y, x FROM reach) r
    ON r.i = c.i AND r.y = c.y AND r.x = c.x
  GROUP BY c.i, c.fmt)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_strong) AS BIGINT) AS strong_px,
       CAST(SUM(n_weak) AS BIGINT) AS weak_px,
       CAST(SUM(n_final) AS BIGINT) AS final_px,
       CAST(SUM(chk) AS BIGINT) AS checksum
FROM per GROUP BY 1
"""


QUERIES.update({
    "canny_edge_stats": (q_canny_edge_stats, _oracle_canny()),
})


# --- bpe_pair_counts: adjacent-symbol pair frequencies (tokenizer training) ------
#
# The inner loop of BPE tokenizer training (count all adjacent symbol
# pairs, merge the most frequent): every adjacent CHARACTER pair inside a
# word, counted corpus-wide, plus the deterministic merge ranking
# (count DESC, pair ASC — the tiebreak real trainers pin for
# reproducibility) and the number of distinct vocabulary words containing
# the pair.  Scale shape — the one real BPE trainers use: aggregate the
# WORD HISTOGRAM first (one token-keyed shuffle, map-side combine shrinks
# every partition to its distinct words), then explode pairs over the
# vocabulary-bounded aggregate with frequency weights.  Pair work is
# proportional to |vocab|, not corpus tokens (29.4 s -> 1.25 s at 270M
# pairs / 100M tokens vs the instance-explode plan, BENCH/MINING.json);
# the rank window runs over the alphabet^2-bounded aggregate.

def q_bpe_pair_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    wf = (d.selectExpr("explode(split(text, ' ')) AS word")
          .where("char_length(word) >= 2")
          .groupBy("word").agg(F.count(F.lit(1)).alias("wc")))
    pairs = (wf.selectExpr("word", "wc",
                           "explode(sequence(1, char_length(word) - 1)) "
                           "AS p")
             .selectExpr("word", "wc", "substring(word, p, 2) AS pair"))
    agg = (pairs.groupBy("pair")
           .agg(F.sum("wc").alias("n_pairs"),
                F.countDistinct("word").alias("n_words")))
    w = F.expr("ROW_NUMBER() OVER (ORDER BY n_pairs DESC, pair)")
    return (agg.withColumn("merge_rank", w)
            .where("merge_rank <= 40")
            .selectExpr("CAST(merge_rank AS INT) AS merge_rank", "pair",
                        "CAST(n_pairs AS BIGINT) AS n_pairs",
                        "CAST(n_words AS BIGINT) AS n_words"))


ORACLE_BPE = """
WITH wf AS (
  SELECT w.word, COUNT(*) AS wc FROM documents,
  LATERAL (SELECT UNNEST(string_split(text, ' ')) AS word) w
  WHERE LENGTH(w.word) >= 2 GROUP BY 1),
pairs AS (
  SELECT word, wc, substr(word, p.p, 2) AS pair FROM wf,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LENGTH(word) - 1)) AS p) p),
agg AS (
  SELECT pair, SUM(wc) AS n_pairs, COUNT(DISTINCT word) AS n_words
  FROM pairs GROUP BY 1),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY n_pairs DESC, pair) AS merge_rank, *
  FROM agg)
SELECT CAST(merge_rank AS INT) AS merge_rank, pair,
       CAST(n_pairs AS BIGINT) AS n_pairs, CAST(n_words AS BIGINT) AS n_words
FROM ranked WHERE merge_rank <= 40
"""


QUERIES.update({
    "bpe_pair_counts": (q_bpe_pair_counts, ORACLE_BPE),
})


# --- vocab_growth: Heaps-law vocabulary growth curve ------------------------------
#
# The corpus-size planning curve (how fast does the vocabulary grow as
# documents stream in?): per corpus decile, the number of NEW terms whose
# first occurrence falls in that decile, the cumulative vocabulary, and
# the cumulative token count — the (tokens, vocab) pairs a Heaps-law fit
# consumes.  Scale shape: first occurrence is MIN(doc_id) per term (one
# token-keyed shuffle with map-side combine); deciles and both cumulative
# windows run over the 10-row AGGREGATE.  Decile = FLOOR(first_doc * 10 /
# n_docs) is exact: quotient error << 1/n_docs, and exact multiples divide
# exactly in IEEE-754 (the repo FLOOR-division rule).

def q_vocab_growth(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    nd = d.agg(F.count(F.lit(1)).alias("nd"))
    toks = d.selectExpr("doc_id", "explode(split(text, ' ')) AS tok") \
            .where("tok <> ''")
    first = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    new_terms = (first.crossJoin(F.broadcast(nd))
                 .selectExpr("CAST(FLOOR(first_doc * 10 / nd) AS INT) "
                             "AS decile")
                 .groupBy("decile")
                 .agg(F.count(F.lit(1)).alias("n_new_terms")))
    tok_per = (toks.crossJoin(F.broadcast(nd))
               .selectExpr("CAST(FLOOR(doc_id * 10 / nd) AS INT) AS decile")
               .groupBy("decile")
               .agg(F.count(F.lit(1)).alias("n_tokens")))
    j = new_terms.join(tok_per, "decile", "full")
    return (j.selectExpr(
        "decile", "COALESCE(n_new_terms, 0) AS n_new_terms",
        "COALESCE(n_tokens, 0) AS nt")
        .selectExpr(
            "decile", "CAST(n_new_terms AS BIGINT) AS n_new_terms",
            "CAST(SUM(n_new_terms) OVER (ORDER BY decile) AS BIGINT) "
            "AS vocab_cum",
            "CAST(SUM(nt) OVER (ORDER BY decile) AS BIGINT) "
            "AS tokens_cum"))


ORACLE_VOCAB = """
WITH nd AS (SELECT COUNT(*) AS nd FROM documents),
toks AS (
  SELECT doc_id, t.tok FROM documents,
  LATERAL (SELECT UNNEST(string_split(text, ' ')) AS tok) t
  WHERE t.tok <> ''),
first AS (SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY 1),
new_terms AS (
  SELECT CAST(FLOOR(first_doc * 10 / nd.nd) AS INT) AS decile,
         COUNT(*) AS n_new_terms
  FROM first, nd GROUP BY 1),
tok_per AS (
  SELECT CAST(FLOOR(doc_id * 10 / nd.nd) AS INT) AS decile,
         COUNT(*) AS n_tokens
  FROM toks, nd GROUP BY 1),
j AS (
  SELECT COALESCE(n.decile, t.decile) AS decile,
         COALESCE(n.n_new_terms, 0) AS n_new_terms,
         COALESCE(t.n_tokens, 0) AS nt
  FROM new_terms n FULL JOIN tok_per t ON n.decile = t.decile)
SELECT decile, CAST(n_new_terms AS BIGINT) AS n_new_terms,
       CAST(SUM(n_new_terms) OVER (ORDER BY decile) AS BIGINT) AS vocab_cum,
       CAST(SUM(nt) OVER (ORDER BY decile) AS BIGINT) AS tokens_cum
FROM j
"""


QUERIES.update({
    "vocab_growth": (q_vocab_growth, ORACLE_VOCAB),
})


# --- image_blob_count: connected-component blob detection on real bytes ----------
#
# Blob detection (the object-count / fragmentation QA pass of an image
# pipeline): threshold the green channel at 128 and label 4-adjacency
# connected components.  Spark labels by vectorized min-label propagation
# over the whole decode stack (multimodal.blob_checksums); the oracle
# labels the SAME components by a recursive transitive-closure CTE over
# the formula-generated mask — a genuinely different algorithm and data
# path.  Restricted to the 16x16 fixture sizes so the oracle's closure
# stays lattice-bounded; lossy qb excluded.  Output per format:
# n_images, total blobs, the largest blob, and the exact min-label sum
# (label = y*16+x of each blob's smallest pixel — catches flips).

BLOB_N = 1200         # ids scanned; ~1/25 are 16x16, 2/3 of those raw/png


def q_image_blob_count(spark, sf_dir):
    from . import multimodal
    img = (fixtures.images_df(spark, BLOB_N, partitions=8)
           .where("fmt <> 'qb' AND w = 16 AND h = 16"))
    b = multimodal.blob_checksums(img, thresh=128)
    withi = b.selectExpr(
        "n_blobs", "max_blob", "label_sum",
        "CAST(substr(image_id, 4) AS BIGINT) AS i",
        "CASE WHEN CAST(substr(image_id, 4) AS BIGINT) % 3 = 0 "
        "THEN 'raw' ELSE 'png' END AS fmt")
    return (withi.groupBy("fmt")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_blobs").alias("sum_blobs"),
                 F.max("max_blob").alias("max_blob"),
                 F.expr("SUM(label_sum * (i + 7))").alias("checksum"))
            .selectExpr("fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(sum_blobs AS BIGINT) AS sum_blobs",
                        "CAST(max_blob AS BIGINT) AS max_blob",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_blobs() -> str:
    from .hashing import mix_sql
    m = fixtures.images_meta_sql("i")
    px = mix_sql("i * 1000003 + yy.y * 4096 + xx.x * 4 + 1")
    return f"""
WITH RECURSIVE imgs AS (
  SELECT i, CASE WHEN i % 3 = 0 THEN 'raw' ELSE 'png' END AS fmt
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {BLOB_N - 1})) AS i) t
  WHERE i % 3 <> 2 AND {m['w']} = 16 AND {m['h']} = 16),
pix AS (
  SELECT i, fmt, yy.y AS y, xx.x AS x
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 15)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 15)) AS x) xx
  WHERE (({px}) % 256) >= 128),
adj AS (
  SELECT a.i, a.y AS ay, a.x AS ax, b.y AS by, b.x AS bx
  FROM pix a JOIN pix b
    ON a.i = b.i AND ABS(a.y - b.y) + ABS(a.x - b.x) = 1),
reach(i, y, x, lab) AS (
  SELECT i, y, x, y * 16 + x FROM pix
  UNION
  SELECT r.i, e.ay, e.ax, r.lab
  FROM reach r JOIN adj e ON e.i = r.i AND e.by = r.y AND e.bx = r.x),
lbl AS (
  SELECT i, y, x, MIN(lab) AS lab FROM reach GROUP BY 1, 2, 3),
blob AS (
  SELECT i, lab, COUNT(*) AS sz FROM lbl GROUP BY 1, 2),
per AS (
  SELECT i, COUNT(*) AS n_blobs, MAX(sz) AS max_blob,
         SUM(lab) AS label_sum
  FROM blob GROUP BY 1)
SELECT g.fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(COALESCE(p.n_blobs, 0)) AS BIGINT) AS sum_blobs,
       CAST(MAX(COALESCE(p.max_blob, 0)) AS BIGINT) AS max_blob,
       CAST(SUM(COALESCE(p.label_sum, 0) * (g.i + 7)) AS BIGINT) AS checksum
FROM imgs g LEFT JOIN per p ON p.i = g.i
GROUP BY 1
"""


QUERIES.update({
    "image_blob_count": (q_image_blob_count, _oracle_blobs()),
})


# --- grad_orientation_hist: HOG-style gradient-orientation octants ---------------
#
# The orientation-distribution descriptor (HOG's binning step, the
# texture/structure QA signal): Sobel (gx, gy) per interior pixel of the
# green channel, bucketed into 8 octants by the SAME comparison-only rule
# as bearing_histogram (sign + |gx| vs |gy|, ties by CASE order — no
# atan2 anywhere), zero-gradient pixels excluded.  Spark buckets on the
# decoded stack with one vectorized bincount per shape group
# (multimodal.orientation_checksums); the oracle re-derives every
# gradient from the pixel formula and buckets with the SQL octant CASE.

def q_grad_orientation_hist(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, SOBEL_N, partitions=4).where(
        F.col("fmt") != "qb")
    o = multimodal.orientation_checksums(img)
    withi = o.selectExpr(
        "octant", "n_px", "CAST(substr(image_id, 4) AS BIGINT) AS i",
        "CASE WHEN CAST(substr(image_id, 4) AS BIGINT) % 3 = 0 "
        "THEN 'raw' ELSE 'png' END AS fmt")
    return (withi.groupBy("fmt", "octant")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("n_px").alias("n_pixels"),
                 F.expr("SUM(n_px * (i + 7))").alias("checksum"))
            .selectExpr("fmt", "CAST(octant AS INT) AS octant",
                        "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(n_pixels AS BIGINT) AS n_pixels",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_orientation() -> str:
    from .hashing import mix_sql
    from .queries_analytics import _octant_sql
    m = fixtures.images_meta_sql("i")

    def p(dy: int, dx: int) -> str:
        key = (f"i * 1000003 + (yy.y + {dy}) * 4096 "
               f"+ (xx.x + {dx}) * 4 + 1")
        return f"(({mix_sql(key)}) % 256)"

    gx = (f"(({p(-1, 1)} + 2 * {p(0, 1)} + {p(1, 1)}) "
          f"- ({p(-1, -1)} + 2 * {p(0, -1)} + {p(1, -1)}))")
    gy = (f"(({p(1, -1)} + 2 * {p(1, 0)} + {p(1, 1)}) "
          f"- ({p(-1, -1)} + 2 * {p(-1, 0)} + {p(-1, 1)}))")
    oct_ = _octant_sql("gx", "gy")
    return f"""
WITH imgs AS (
  SELECT i, {m['w']} AS w, {m['h']} AS h,
         CASE WHEN i % 3 = 0 THEN 'raw' ELSE 'png' END AS fmt
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {SOBEL_N - 1})) AS i) t
  WHERE i % 3 <> 2),
grad AS (
  SELECT i, fmt, {gx} AS gx, {gy} AS gy
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(1, h - 2)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(1, w - 2)) AS x) xx),
bucketed AS (
  SELECT i, fmt, CAST({oct_} AS INT) AS octant
  FROM grad WHERE gx <> 0 OR gy <> 0),
per AS (
  SELECT i, fmt, octant, COUNT(*) AS n_px FROM bucketed GROUP BY 1, 2, 3)
SELECT fmt, octant, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(n_px) AS BIGINT) AS n_pixels,
       CAST(SUM(n_px * (i + 7)) AS BIGINT) AS checksum
FROM per GROUP BY 1, 2
"""


QUERIES.update({
    "grad_orientation_hist": (q_grad_orientation_hist,
                              _oracle_orientation()),
})


# --- template_match_peaks: exact cross-correlation patch search ------------------
#
# Template matching (the patch-search primitive behind logo/watermark
# detection and registration): exact integer cross-correlation of a fixed
# 4x4 signed kernel (K[u,v] = mix(9000001 + u*4+v) % 256 - 128) against
# the green channel of REAL decoded bytes; per image the peak score and
# its FIRST row-major location via the packed argmax key
# score*2^24 + (2^24-1 - pos) (multimodal.template_match_checksums).  The
# oracle re-derives every score from the pixel formula and finds the same
# peak by MAX + MIN-over-ties — a different argmax mechanism.  Lossy qb
# excluded.

def q_template_match_peaks(spark, sf_dir):
    from . import multimodal
    img = fixtures.images_df(spark, SOBEL_N, partitions=4).where(
        F.col("fmt") != "qb")
    t = multimodal.template_match_checksums(img)
    withi = t.selectExpr(
        "peak", "peak_pos", "CAST(substr(image_id, 4) AS BIGINT) AS i",
        "CASE WHEN CAST(substr(image_id, 4) AS BIGINT) % 3 = 0 "
        "THEN 'raw' ELSE 'png' END AS fmt")
    return (withi.groupBy("fmt")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum("peak").alias("sum_peak"),
                 F.max("peak").alias("max_peak"),
                 F.expr("SUM(peak_pos * (i + 7))").alias("pos_checksum"))
            .selectExpr("fmt", "CAST(n_images AS BIGINT) AS n_images",
                        "CAST(sum_peak AS BIGINT) AS sum_peak",
                        "CAST(max_peak AS BIGINT) AS max_peak",
                        "CAST(pos_checksum AS BIGINT) AS pos_checksum"))


def _oracle_template() -> str:
    from .hashing import mix_sql
    from .multimodal import template_kernel
    m = fixtures.images_meta_sql("i")
    kern = template_kernel()

    def p(dy: int, dx: int) -> str:
        key = (f"i * 1000003 + (yy.y + {dy}) * 4096 "
               f"+ (xx.x + {dx}) * 4 + 1")
        return f"(({mix_sql(key)}) % 256)"

    score = " + ".join(f"({int(kern[u, v])}) * {p(u, v)}"
                       for u in range(4) for v in range(4))
    return f"""
WITH imgs AS (
  SELECT i, {m['w']} AS w, {m['h']} AS h,
         CASE WHEN i % 3 = 0 THEN 'raw' ELSE 'png' END AS fmt
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {SOBEL_N - 1})) AS i) t
  WHERE i % 3 <> 2),
sc AS (
  SELECT i, fmt, w, yy.y AS y, xx.x AS x, {score} AS score
  FROM imgs,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 4)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 4)) AS x) xx),
pk AS (SELECT i, fmt, MAX(score) AS peak FROM sc GROUP BY 1, 2),
loc AS (
  SELECT p.i, p.fmt, p.peak, MIN(s.y * s.w + s.x) AS peak_pos
  FROM pk p JOIN sc s ON s.i = p.i AND s.score = p.peak
  GROUP BY 1, 2, 3)
SELECT fmt, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(peak) AS BIGINT) AS sum_peak,
       CAST(MAX(peak) AS BIGINT) AS max_peak,
       CAST(SUM(peak_pos * (i + 7)) AS BIGINT) AS pos_checksum
FROM loc GROUP BY 1
"""


QUERIES.update({
    "template_match_peaks": (q_template_match_peaks, _oracle_template()),
})


# --- viewshed_rays: line-of-sight visibility along compass rays ------------------
#
# The viewshed primitive (terrain visibility analysis) on the event
# density raster: an observer at the grid center looks along the 8
# compass rays; an occupied cell is VISIBLE iff its elevation angle
# (zc - z0) / d strictly exceeds every prior angle on the ray.  The angle
# is ONE float division of exact ints — the identical-literal-op rule —
# and the running comparison is a window MAX over prior ray cells, so the
# verdict is bit-deterministic on both engines.  Scale shape: one
# corpus-scale groupBy to the grid, then per-ray windows over <=
# 2^LEVEL-bounded sets; only occupied cells participate (documented
# semantics: visibility OF occupied cells THROUGH occupied cells).

VS_LEVEL = 6          # 64 x 64 grid; observer at (32, 32)
VS_CX = 32
VS_CY = 32


def _vs_occ(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, VS_LEVEL)
    return (_t(spark, sf_dir, "events")
            .selectExpr(f"{ix} AS tx", f"{iy} AS ty")
            .groupBy("tx", "ty").agg(F.count(F.lit(1)).alias("zc")))


_VS_RAY = (f"CASE "
           f"WHEN ty = {VS_CY} AND tx > {VS_CX} THEN 0 "
           f"WHEN tx - {VS_CX} = ty - {VS_CY} AND tx > {VS_CX} THEN 1 "
           f"WHEN tx = {VS_CX} AND ty > {VS_CY} THEN 2 "
           f"WHEN {VS_CX} - tx = ty - {VS_CY} AND ty > {VS_CY} THEN 3 "
           f"WHEN ty = {VS_CY} AND tx < {VS_CX} THEN 4 "
           f"WHEN tx - {VS_CX} = ty - {VS_CY} AND tx < {VS_CX} THEN 5 "
           f"WHEN tx = {VS_CX} AND ty < {VS_CY} THEN 6 "
           f"WHEN {VS_CX} - tx = ty - {VS_CY} AND ty < {VS_CY} THEN 7 "
           f"ELSE -1 END")

_VS_D = f"GREATEST(ABS(tx - {VS_CX}), ABS(ty - {VS_CY}))"


def q_viewshed_rays(spark, sf_dir):
    # one corpus scan: the grid-bounded occupancy is pinned, z0 and the
    # ray pass both read the materialized <=4096-row aggregate
    occ = _vs_occ(spark, sf_dir).localCheckpoint()
    z0 = occ.selectExpr(
        f"COALESCE(MAX(CASE WHEN tx = {VS_CX} AND ty = {VS_CY} "
        "THEN zc END), 0) AS z0")
    ray = (occ.crossJoin(F.broadcast(z0))
           .selectExpr("tx", "ty", "zc", "z0",
                       f"{_VS_RAY} AS ray", f"{_VS_D} AS d")
           .where("ray >= 0 AND d > 0")
           .selectExpr("ray", "d", "zc",
                       "(zc - z0) / CAST(d AS DOUBLE) AS ang"))
    vis = ray.selectExpr(
        "ray", "d", "zc", "ang",
        "MAX(ang) OVER (PARTITION BY ray ORDER BY d "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior")
    return (vis.selectExpr(
        "ray", "d", "zc",
        "CASE WHEN prior IS NULL OR ang > prior THEN 1 ELSE 0 END AS v")
        .groupBy("ray")
        .agg(F.count(F.lit(1)).alias("n_cells"),
             F.sum("v").alias("n_visible"),
             F.max(F.expr("CASE WHEN v = 1 THEN d END")).alias("max_d_vis"),
             F.expr("SUM(v * (d * 1000 + zc))").alias("checksum"))
        .selectExpr("CAST(ray AS INT) AS ray",
                    "CAST(n_cells AS BIGINT) AS n_cells",
                    "CAST(n_visible AS BIGINT) AS n_visible",
                    "CAST(max_d_vis AS BIGINT) AS max_d_vis",
                    "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_viewshed() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, VS_LEVEL)
    return f"""
WITH occ AS (
  SELECT {ix} AS tx, {iy} AS ty, COUNT(*) AS zc FROM events GROUP BY 1, 2),
z0t AS (
  SELECT COALESCE(MAX(CASE WHEN tx = {VS_CX} AND ty = {VS_CY} THEN zc END),
                  0) AS z0 FROM occ),
ray AS (
  SELECT {_VS_RAY} AS ray, {_VS_D} AS d, zc,
         (zc - z0) / CAST({_VS_D} AS DOUBLE) AS ang
  FROM occ, z0t
  WHERE ({_VS_RAY}) >= 0 AND ({_VS_D}) > 0),
vis AS (
  SELECT ray, d, zc, ang,
         MAX(ang) OVER (PARTITION BY ray ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prior
  FROM ray),
flag AS (
  SELECT ray, d, zc,
         CASE WHEN prior IS NULL OR ang > prior THEN 1 ELSE 0 END AS v
  FROM vis)
SELECT CAST(ray AS INT) AS ray, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(v) AS BIGINT) AS n_visible,
       CAST(MAX(CASE WHEN v = 1 THEN d END) AS BIGINT) AS max_d_vis,
       CAST(SUM(v * (d * 1000 + zc)) AS BIGINT) AS checksum
FROM flag GROUP BY 1
"""


QUERIES.update({
    "viewshed_rays": (q_viewshed_rays, _oracle_viewshed()),
})


# --- zonal_stats: per-polygon statistics of the density raster -------------------
#
# Zonal statistics (THE raster x vector GIS reduction: mean elevation per
# watershed, population per district): per nation fence, statistics of
# the level-6 event-density raster cells whose CENTROID lies inside the
# fence.  Scale shape: ONE corpus-scale groupBy to the <=4096-cell grid,
# then a broadcast join against the 25-row fence layer; the zone test is
# pure codegen comparisons (axis-aligned fences).  Half-open [lo, hi)
# containment; mean = ONE float division of exact ints (identical-
# literal-op rule).

ZS_LEVEL = 6


def q_zonal_stats(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, ZS_LEVEL)
    n = 1 << ZS_LEVEL
    cellsdf = (_t(spark, sf_dir, "events")
               .selectExpr(f"{ix} AS tx", f"{iy} AS ty")
               .groupBy("tx", "ty").agg(F.count(F.lit(1)).alias("zc"))
               .selectExpr("tx", "ty", "zc",
                           f"-180.0 + (tx + 0.5) * {360.0 / n!r} AS lon_c",
                           f"-85.0 + (ty + 0.5) * {170.0 / n!r} AS lat_c"))
    zones = _t(spark, sf_dir, "nation").selectExpr(
        "n_nationkey", "n_name",
        f"{fixtures.NATION_CLON_SQL} AS cx",
        f"{fixtures.NATION_CLAT_SQL} AS cy",
        f"{fixtures.NATION_HALF_SQL} AS hw")
    j = cellsdf.join(
        F.broadcast(zones),
        F.expr("lon_c >= cx - hw AND lon_c < cx + hw AND "
               "lat_c >= cy - hw AND lat_c < cy + hw"))
    return (j.groupBy("n_nationkey", "n_name")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("zc").alias("sum_events"),
                 F.max("zc").alias("max_zc"),
                 F.expr("SUM(zc * (tx * 64 + ty))").alias("checksum"))
            .selectExpr("CAST(n_nationkey AS BIGINT) AS n_nationkey",
                        "n_name",
                        "CAST(n_cells AS BIGINT) AS n_cells",
                        "CAST(sum_events AS BIGINT) AS sum_events",
                        "CAST(max_zc AS BIGINT) AS max_zc",
                        "SUM_EVENTS / CAST(n_cells AS DOUBLE) AS mean_zc",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_zonal() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, ZS_LEVEL)
    n = 1 << ZS_LEVEL
    return f"""
WITH cellsr AS (
  SELECT tx, ty, zc,
         -180.0 + (tx + 0.5) * {360.0 / n!r} AS lon_c,
         -85.0 + (ty + 0.5) * {170.0 / n!r} AS lat_c
  FROM (SELECT {ix} AS tx, {iy} AS ty, COUNT(*) AS zc
        FROM events GROUP BY 1, 2) g),
zones AS (
  SELECT n_nationkey, n_name,
         {fixtures.NATION_CLON_SQL} AS cx,
         {fixtures.NATION_CLAT_SQL} AS cy,
         {fixtures.NATION_HALF_SQL} AS hw
  FROM nation),
j AS (
  SELECT z.n_nationkey, z.n_name, c.tx, c.ty, c.zc
  FROM cellsr c JOIN zones z
    ON c.lon_c >= z.cx - z.hw AND c.lon_c < z.cx + z.hw
   AND c.lat_c >= z.cy - z.hw AND c.lat_c < z.cy + z.hw)
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(zc) AS BIGINT) AS sum_events,
       CAST(MAX(zc) AS BIGINT) AS max_zc,
       CAST(SUM(zc) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS mean_zc,
       CAST(SUM(zc * (tx * 64 + ty)) AS BIGINT) AS checksum
FROM j GROUP BY 1, 2
"""


QUERIES.update({
    "zonal_stats": (q_zonal_stats, _oracle_zonal()),
})


# --- cost_distance_cells: weighted least-cost distance over the raster -----------
#
# The cost-surface primitive (least-cost path / accessibility analysis —
# D8 flow's weighted cousin): entering a cell costs 1 + (zc % 9); the
# distance of every occupied cell from the nearest hash-selected seed is
# the minimum path cost over 8-adjacency.  Spark runs FIXED-round
# Bellman-Ford relaxation (the kcore trick: a fixed bound unrolls the
# iterative operator to finite SQL for the oracle, and pytest proves the
# fixture reaches fixpoint inside the bound, so the bounded result IS the
# cost distance): per round one 8-offset explode + equi-join + MIN over
# the <=256-row grid aggregate, localCheckpoint keeps the plan flat.  The
# oracle unrolls the same rounds as chained CTEs with a theta join — a
# different relaxation formulation.  One corpus-scale pass (the grid
# groupBy); everything after is grid-bounded.

CD_LEVEL = 4
CD_ROUNDS = 32
_CD_SEED = "(({m}) % 19) = 0"


def _cd_seed_sql(tx: str, ty: str) -> str:
    from .hashing import mix_sql
    return _CD_SEED.format(m=mix_sql(f"({tx}) * 31 + ({ty}) * 17 + 5"))


def q_cost_distance_cells(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, CD_LEVEL)
    grid = (_t(spark, sf_dir, "events")
            .selectExpr(f"{ix} AS tx", f"{iy} AS ty")
            .groupBy("tx", "ty").agg(F.count(F.lit(1)).alias("zc"))
            .selectExpr("tx", "ty", "1 + zc % 9 AS cost")
            .localCheckpoint())
    dist = grid.where(_cd_seed_sql("tx", "ty")) \
        .selectExpr("tx", "ty", "CAST(0 AS BIGINT) AS dist") \
        .localCheckpoint()
    nbr = (grid.selectExpr("tx", "ty", "cost",
                           "explode(sequence(-1, 1)) AS dx")
           .selectExpr("tx", "ty", "cost", "dx",
                       "explode(sequence(-1, 1)) AS dy")
           .where("NOT (dx = 0 AND dy = 0)")
           .selectExpr("tx - dx AS fx", "ty - dy AS fy",
                       "tx", "ty", "cost")
           .localCheckpoint())
    for _ in range(CD_ROUNDS):
        relaxed = (dist.selectExpr("tx AS fx", "ty AS fy", "dist AS fd")
                   .join(nbr, ["fx", "fy"])
                   .selectExpr("tx", "ty", "fd + cost AS dd")
                   .union(dist.selectExpr("tx", "ty", "dist AS dd"))
                   .groupBy("tx", "ty")
                   .agg(F.min("dd").alias("dist")))
        dist = relaxed.localCheckpoint()
    return dist.selectExpr("CAST(tx AS BIGINT) AS tx",
                           "CAST(ty AS BIGINT) AS ty",
                           "CAST(dist AS BIGINT) AS dist")


def _oracle_cost_distance() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, CD_LEVEL)
    seed = _cd_seed_sql("tx", "ty")
    # every CTE is MATERIALIZED (DuckDB-only syntax; the oracle never
    # runs in Spark): each round references the previous one twice, and
    # DuckDB inlines plain CTEs, which would expand the chain ~2^rounds
    ctes = [f"""grid AS MATERIALIZED (
  SELECT tx, ty, 1 + zc % 9 AS cost
  FROM (SELECT {ix} AS tx, {iy} AS ty, COUNT(*) AS zc
        FROM events GROUP BY 1, 2) g),
d0 AS MATERIALIZED (
  SELECT tx, ty, CAST(0 AS BIGINT) AS dist FROM grid WHERE {seed})"""]
    for r in range(CD_ROUNDS):
        ctes.append(f"""d{r + 1} AS MATERIALIZED (
  SELECT x.tx, x.ty, MIN(x.dd) AS dist FROM (
    SELECT tx, ty, dist AS dd FROM d{r}
    UNION ALL
    SELECT g.tx, g.ty, d.dist + g.cost AS dd
    FROM d{r} d JOIN grid g
      ON ABS(g.tx - d.tx) <= 1 AND ABS(g.ty - d.ty) <= 1
     AND NOT (g.tx = d.tx AND g.ty = d.ty)
  ) x GROUP BY 1, 2)""")
    return ("WITH " + ",\n".join(ctes) +
            f"\nSELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty, "
            f"CAST(dist AS BIGINT) AS dist FROM d{CD_ROUNDS}")


QUERIES.update({
    "cost_distance_cells": (q_cost_distance_cells, _oracle_cost_distance()),
})


# --- linear_reference: milepost binning along matched road segments --------------
#
# Linear referencing (the transportation-GIS primitive after map
# matching: WHERE along the road is the traffic?): every matched cell
# projects onto its winning segment at parameter t = clamp(dot, 0, 2500)
# / 2500; the exact-integer numerator bins directly into ten mileposts
# (bin = LEAST(9, FLOOR(clamp(dot) / 250)) — no float ever).  The winning
# segment re-derives its own dot via a 24-way CASE on the packed-argmin
# seg id, so the whole operator stays one LEAST + one CASE of codegen
# constants over the occupied-cell aggregate; output is bounded by
# segments x 10 bins.

def _mm_dot_sql(px: str, py: str) -> str:
    """dot(p - a_s, d_s) of the WINNING segment as a CASE on seg."""
    whens = []
    for s, ax, ay, dx, dy in road_segments():
        whens.append(f"WHEN seg = {s} THEN "
                     f"((({px}) - {ax}) * ({dx}) + (({py}) - {ay}) * ({dy}))")
    return "CASE " + " ".join(whens) + " END"


def q_linear_reference(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, MM_LEVEL)
    occ = (_t(spark, sf_dir, "events")
           .selectExpr(f"{ix} AS px", f"{iy} AS py")
           .groupBy("px", "py").agg(F.count(F.lit(1)).alias("c")))
    key = _mm_key_sql("px", "py")
    m = occ.selectExpr("px", "py", "c",
                       f"CAST(({key}) % 32 AS INT) AS seg")
    dot = _mm_dot_sql("px", "py")
    binned = m.selectExpr(
        "seg", "c", "px", "py",
        f"CAST(LEAST(9, GREATEST(0, FLOOR(({dot}) / 250.0))) AS INT) "
        "AS milepost")
    return (binned.groupBy("seg", "milepost")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("c").alias("n_points"),
                 F.expr("SUM((px * 1024 + py) * c)").alias("checksum"))
            .selectExpr("seg", "milepost",
                        "CAST(n_cells AS BIGINT) AS n_cells",
                        "CAST(n_points AS BIGINT) AS n_points",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_linear_ref() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, MM_LEVEL)
    key = _mm_key_sql("px", "py")
    dot = _mm_dot_sql("px", "py")
    return f"""
WITH occ AS (
  SELECT {ix} AS px, {iy} AS py, COUNT(*) AS c FROM events GROUP BY 1, 2),
m AS (
  SELECT px, py, c, CAST(({key}) % 32 AS INT) AS seg FROM occ),
binned AS (
  SELECT seg, c, px, py,
         CAST(LEAST(9, GREATEST(0, FLOOR(({dot}) / 250.0))) AS INT)
           AS milepost
  FROM m)
SELECT seg, milepost, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(c) AS BIGINT) AS n_points,
       CAST(SUM((px * 1024 + py) * c) AS BIGINT) AS checksum
FROM binned GROUP BY 1, 2
"""


QUERIES.update({
    "linear_reference": (q_linear_reference, _oracle_linear_ref()),
})


# --- burst_episodes: peak-hour episode mining per event type ---------------------
#
# Burst/peak detection (the temporal-mining step behind alerting and
# capacity planning): an hour is a PEAK for an event type iff it ranks in
# the type's top decile by count (rank = ROW_NUMBER ordered by cnt DESC,
# hr ASC — deterministic tiebreak; the rank rule stays non-degenerate at
# ANY corpus size, unlike a 2x-mean threshold, which no hour clears once
# Poisson fluctuations shrink at scale — measured: 0 rows at sf0.1).
# Consecutive peak hours chain into EPISODES by gaps-and-islands
# (island = hr - ROW_NUMBER over the type's peak hours).  Scale shape:
# one corpus-scale (type, hour) groupBy with map-side combine; both rank
# and island windows run over the hours-bounded aggregate.

def q_burst_episodes(spark, sf_dir):
    hourly = (_t(spark, sf_dir, "events")
              .selectExpr("event_type",
                          "CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ))"
                          " / 3600000000) AS BIGINT) AS hr")
              .groupBy("event_type", "hr")
              .agg(F.count(F.lit(1)).alias("cnt")))
    ranked = hourly.selectExpr(
        "event_type", "hr", "cnt",
        "ROW_NUMBER() OVER (PARTITION BY event_type "
        "ORDER BY cnt DESC, hr) AS rk",
        "COUNT(*) OVER (PARTITION BY event_type) AS n_hours")
    burst = (ranked.where("rk * 10 <= n_hours")
             .selectExpr("event_type", "hr", "cnt",
                         "hr - ROW_NUMBER() OVER (PARTITION BY event_type "
                         "ORDER BY hr) AS island"))
    ep = (burst.groupBy("event_type", "island")
          .agg(F.count(F.lit(1)).alias("len"),
               F.max("cnt").alias("peak"),
               F.sum("cnt").alias("vol")))
    return (ep.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_episodes"),
                 F.sum("len").alias("n_peak_hours"),
                 F.max("len").alias("longest"),
                 F.max("peak").alias("peak_cnt"),
                 F.sum("vol").alias("peak_volume"))
            .selectExpr("event_type",
                        "CAST(n_episodes AS BIGINT) AS n_episodes",
                        "CAST(n_peak_hours AS BIGINT) AS n_peak_hours",
                        "CAST(longest AS BIGINT) AS longest",
                        "CAST(peak_cnt AS BIGINT) AS peak_cnt",
                        "CAST(peak_volume AS BIGINT) AS peak_volume"))


ORACLE_BURST = """
WITH hourly AS (
  SELECT event_type, CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS hr,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT event_type, hr, cnt,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cnt DESC, hr) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n_hours
  FROM hourly),
burst AS (
  SELECT event_type, hr, cnt,
         hr - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
           AS island
  FROM ranked WHERE rk * 10 <= n_hours),
ep AS (
  SELECT event_type, island, COUNT(*) AS len, MAX(cnt) AS peak,
         SUM(cnt) AS vol
  FROM burst GROUP BY 1, 2)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_episodes,
       CAST(SUM(len) AS BIGINT) AS n_peak_hours,
       CAST(MAX(len) AS BIGINT) AS longest,
       CAST(MAX(peak) AS BIGINT) AS peak_cnt,
       CAST(SUM(vol) AS BIGINT) AS peak_volume
FROM ep GROUP BY 1
"""


QUERIES.update({
    "burst_episodes": (q_burst_episodes, ORACLE_BURST),
})


# --- hillshade_raster: Horn hillshade on the density grid --------------------------
#
# Completes the terrain trio (slope_aspect_raster computed the gradients;
# this renders them): the standard GIS hillshade
#   hs = 255 * max(0, cosZ*cos(slope) + sinZ*sin(slope)*cos(az - aspect))
# with sun zenith 45 deg / azimuth 315 deg, slope = atan(sqrt(gx^2+gy^2)/8),
# aspect = atan2(gy, -gx), over the SAME exact-integer Horn gradients.
# The trig chain is ONE literal float expression of two int64 inputs,
# identical text in both engines; the 8-bit shade byte comes from a FLOOR
# whose JVM-vs-libm exposure is ~1e-13 relative per cell (multi-ulp trig
# difference through a bounded chain) against a unit-wide bucket — a
# ~1e-13 coincidence per cell, the image_entropy ulp rule. Output is the
# shade histogram plus an exact position checksum that pins WHICH cells
# got each shade. One scatter + one groupBy — the focal_density shuffle
# shape, linear at any SF.

HS_COSZ = 0.7071067811865476   # cos 45deg, folded
HS_AZ = 5.497787143782138      # 315deg in radians, folded


def q_hillshade_raster(spark, sf_dir):
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, SLOPE_LEVEL)
    occ = (_t(spark, sf_dir, "events")
           .selectExpr(f"{ix} AS cx", f"{iy} AS cy")
           .groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("c")))
    sc = (occ.selectExpr("cx", "cy", "c",
                         "explode(sequence(-1, 1)) AS dx")
          .selectExpr("cx", "cy", "c", "dx",
                      "explode(sequence(-1, 1)) AS dy")
          .selectExpr("cx + dx AS tx", "cy + dy AS ty",
                      "c * (-dx) * (2 - ABS(dy)) AS gxc",
                      "c * (-dy) * (2 - ABS(dx)) AS gyc",
                      "CAST(dx = 0 AND dy = 0 AS INT) AS is_center"))
    g = (sc.groupBy("tx", "ty")
         .agg(F.expr("SUM(gxc)").alias("gx"),
              F.expr("SUM(gyc)").alias("gy"),
              F.expr("SUM(is_center)").alias("occupied"))
         .where("occupied = 1"))
    hs = (f"(255.0 * GREATEST(0.0, {HS_COSZ!r} * COS(ATAN("
          "SQRT(CAST(gx * gx + gy * gy AS DOUBLE)) / 8.0)) "
          f"+ {HS_COSZ!r} * SIN(ATAN("
          "SQRT(CAST(gx * gx + gy * gy AS DOUBLE)) / 8.0)) "
          f"* COS({HS_AZ!r} - ATAN2(CAST(gy AS DOUBLE), "
          "CAST(-gx AS DOUBLE)))))")
    return (g.selectExpr("tx", "ty",
                         f"CAST(FLOOR({hs}) AS INT) AS shade")
            .groupBy("shade")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.expr("SUM(tx * 1024 + ty)").alias("pos_sum"))
            .selectExpr("shade", "CAST(n_cells AS BIGINT) AS n_cells",
                        "CAST(pos_sum AS BIGINT) AS pos_sum"))


def _oracle_hillshade() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, SLOPE_LEVEL)
    hs = (f"(255.0 * GREATEST(0.0, {HS_COSZ!r} * COS(ATAN("
          "SQRT(CAST(gx * gx + gy * gy AS DOUBLE)) / 8.0)) "
          f"+ {HS_COSZ!r} * SIN(ATAN("
          "SQRT(CAST(gx * gx + gy * gy AS DOUBLE)) / 8.0)) "
          f"* COS({HS_AZ!r} - ATAN2(CAST(gy AS DOUBLE), "
          "CAST(-gx AS DOUBLE)))))")
    return f"""
WITH occ AS (
  SELECT {ix} AS cx, {iy} AS cy, COUNT(*) AS c FROM events GROUP BY 1, 2),
sc AS (
  SELECT cx + dx.d AS tx, cy + dy.d AS ty,
         c * (-dx.d) * (2 - ABS(dy.d)) AS gxc,
         c * (-dy.d) * (2 - ABS(dx.d)) AS gyc,
         CAST(dx.d = 0 AND dy.d = 0 AS INT) AS is_center
  FROM occ, (SELECT UNNEST([-1, 0, 1]) AS d) dx,
       (SELECT UNNEST([-1, 0, 1]) AS d) dy),
g AS (
  SELECT tx, ty, CAST(SUM(gxc) AS BIGINT) AS gx,
         CAST(SUM(gyc) AS BIGINT) AS gy
  FROM sc GROUP BY 1, 2
  HAVING SUM(is_center) = 1),
cls AS (SELECT tx, ty, CAST(FLOOR({hs}) AS INT) AS shade FROM g)
SELECT shade, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(tx * 1024 + ty) AS BIGINT) AS pos_sum
FROM cls GROUP BY 1
"""


QUERIES.update({
    "hillshade_raster": (q_hillshade_raster, _oracle_hillshade()),
})


# --- wkt_polygon_ingest: WKT POLYGON/MULTIPOLYGON decode, fully declarative --------
#
# Completes the WKT interop row (wkt_point_ingest parses points): polygon
# and multipolygon text decoded WITHOUT any geometry library OR Python
# kernel — regexp ring extraction, split tokenization, and a lag-window
# shoelace, all codegen SQL, so a 10^9-row WKT column decodes JVM-side at
# scan speed.  Every innermost paren group is a ring; the reference
# winding convention (outer CW, holes CCW — geom.py assemble_rings)
# makes the SIGNED shoelace sum compose area as outer − holes + parts
# with one global negation, no polygon-grouping parse needed for the
# area/bbox/count readout.  Coordinates are 6-decimal strings rendered
# from micro-degree integers (fixtures.fence_wkt), and the parse
# re-quantizes via FLOOR(x·1e6 + 0.5) — the exact roundtrip rule of
# wkt_point_ingest — so every aggregate is exact int64.

_WKT_RING_PAT = "[(]([^()]+)[)]"


def _wkt_poly_src_rows():
    return [(j, fixtures.fence_wkt(j)) for j in range(64)]


def q_wkt_polygon_ingest(spark, sf_dir):
    src = spark.createDataFrame(_wkt_poly_src_rows(),
                                "poly_id bigint, wkt string")
    rings = src.selectExpr(
        "poly_id",
        f"posexplode(regexp_extract_all(wkt, '{_WKT_RING_PAT}', 1)) "
        "AS (ring_idx, ring)")
    pts = rings.selectExpr(
        "poly_id", "ring_idx", "posexplode(split(ring, ', ')) AS (pos, pt)")
    xy = pts.selectExpr(
        "poly_id", "ring_idx", "pos",
        "CAST(FLOOR(CAST(split_part(pt, ' ', 1) AS DOUBLE) * 1000000.0 "
        "+ 0.5) AS BIGINT) AS ix",
        "CAST(FLOOR(CAST(split_part(pt, ' ', 2) AS DOUBLE) * 1000000.0 "
        "+ 0.5) AS BIGINT) AS iy")
    w = W.partitionBy("poly_id", "ring_idx").orderBy("pos")
    edges = xy.select(
        "poly_id", "ring_idx", "ix", "iy",
        F.lead("ix", 1).over(w).alias("jx"),
        F.lead("iy", 1).over(w).alias("jy")).where("jx IS NOT NULL")
    return (edges.groupBy("poly_id")
            .agg(F.expr("COUNT(DISTINCT ring_idx)").alias("n_rings"),
                 F.count(F.lit(1)).alias("n_edges"),
                 F.expr("SUM(ix * jy - jx * iy)").alias("s"),
                 F.min("ix").alias("min_x"), F.max("ix").alias("max_x"),
                 F.min("iy").alias("min_y"), F.max("iy").alias("max_y"))
            .selectExpr("CAST(poly_id AS BIGINT) AS poly_id",
                        "CAST(n_rings AS BIGINT) AS n_rings",
                        "CAST(n_edges AS BIGINT) AS n_edges",
                        "CAST(0 - s AS BIGINT) AS area2_udeg",
                        "CAST(min_x AS BIGINT) AS min_x",
                        "CAST(max_x AS BIGINT) AS max_x",
                        "CAST(min_y AS BIGINT) AS min_y",
                        "CAST(max_y AS BIGINT) AS max_y"))


def _oracle_wkt_polygon() -> str:
    vals = ",".join(f"({j}, '{fixtures.fence_wkt(j)}')" for j in range(64))
    return f"""
WITH src AS (SELECT * FROM (VALUES {vals}) AS t(poly_id, wkt)),
rings AS (
  SELECT poly_id, i - 1 AS ring_idx, r AS ring
  FROM (SELECT poly_id,
               UNNEST(regexp_extract_all(wkt, '{_WKT_RING_PAT}', 1)) AS r,
               generate_subscripts(
                 regexp_extract_all(wkt, '{_WKT_RING_PAT}', 1), 1) AS i
        FROM src) t),
pts AS (
  SELECT poly_id, ring_idx, i - 1 AS pos, p AS pt
  FROM (SELECT poly_id, ring_idx,
               UNNEST(string_split(ring, ', ')) AS p,
               generate_subscripts(string_split(ring, ', '), 1) AS i
        FROM rings) t),
xy AS (
  SELECT poly_id, ring_idx, pos,
         CAST(FLOOR(CAST(split_part(pt, ' ', 1) AS DOUBLE) * 1000000.0
              + 0.5) AS BIGINT) AS ix,
         CAST(FLOOR(CAST(split_part(pt, ' ', 2) AS DOUBLE) * 1000000.0
              + 0.5) AS BIGINT) AS iy
  FROM pts),
edges AS (
  SELECT poly_id, ring_idx, ix, iy,
         LEAD(ix, 1) OVER (PARTITION BY poly_id, ring_idx ORDER BY pos)
           AS jx,
         LEAD(iy, 1) OVER (PARTITION BY poly_id, ring_idx ORDER BY pos)
           AS jy
  FROM xy)
SELECT CAST(poly_id AS BIGINT) AS poly_id,
       CAST(COUNT(DISTINCT ring_idx) AS BIGINT) AS n_rings,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(0 - SUM(ix * jy - jx * iy) AS BIGINT) AS area2_udeg,
       CAST(MIN(ix) AS BIGINT) AS min_x, CAST(MAX(ix) AS BIGINT) AS max_x,
       CAST(MIN(iy) AS BIGINT) AS min_y, CAST(MAX(iy) AS BIGINT) AS max_y
FROM edges WHERE jx IS NOT NULL
GROUP BY poly_id
"""


QUERIES.update({
    "wkt_polygon_ingest": (q_wkt_polygon_ingest, _oracle_wkt_polygon()),
})


# --- tsp_greedy_tour: nearest-neighbor tour over hub cells --------------------
#
# The routing-construction primitive (delivery sequencing, crawl
# scheduling) the graph family lacked: a nearest-neighbor TSP tour over
# the 8 densest level-4 event cells.  Cities come from ONE map-side
# combinable corpus aggregate (count per (ix, iy) grid cell, top-8 by
# count with a packed-key tiebreak); the greedy walk then unrolls 7
# FIXED steps of 8-row algebra — state is (current coords, visited
# BITMASK, running total), the next city is an injective packed argmin
# (d2 * 8 + rank: d2 <= 2*15^2 = 450, so the pack never collides), and
# the mask update is a CASE power-of-two add (no dialect-divergent
# shifts).  All-integer squared grid distances.  Oracle: identical
# steps as chained MATERIALIZED CTEs.

TSP_LEVEL = 4
TSP_K = 8

def _tsp_cities_sql() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, TSP_LEVEL)
    return f"""
  SELECT ix, iy, n, CAST(rn - 1 AS BIGINT) AS j
  FROM (SELECT ix, iy, n, ROW_NUMBER() OVER (
          ORDER BY n DESC, iy * 16 + ix) AS rn
        FROM (SELECT {ix} AS ix, {iy} AS iy, COUNT(*) AS n
              FROM events GROUP BY 1, 2) g) r
  WHERE rn <= {TSP_K}
"""


# one greedy step: among unvisited cities, take the packed-argmin leg
_TSP_PICK = """
{pick} AS MATERIALIZED (
  SELECT st.mask, st.total,
         MIN(((c.ix - st.cx) * (c.ix - st.cx)
              + (c.iy - st.cy) * (c.iy - st.cy)) * 8 + c.j) AS pk
  FROM {prev} st JOIN cities c
    ON (st.mask DIV (CASE c.j {pow2arms} END)) % 2 = 0
  GROUP BY st.mask, st.total),
{nxt} AS MATERIALIZED (
  SELECT {step} AS step, c.j, c.ix AS cx, c.iy AS cy,
         p.mask + (CASE c.j {pow2arms} END) AS mask,
         p.pk DIV 8 AS leg_d2, p.total + p.pk DIV 8 AS total
  FROM {pick} p JOIN cities c ON c.j = p.pk % 8)"""


def _tsp_chain(matz: str, div: str = "DIV") -> str:
    pow2arms = " ".join(f"WHEN {j} THEN {1 << j}" for j in range(TSP_K))
    parts = [f"""
s0 AS{matz} (
  SELECT 0 AS step, j, ix AS cx, iy AS cy, CAST(1 AS BIGINT) AS mask,
         CAST(0 AS BIGINT) AS leg_d2, CAST(0 AS BIGINT) AS total
  FROM cities WHERE j = 0)"""]
    for r in range(1, TSP_K):
        parts.append(_TSP_PICK.format(
            pick=f"p{r}", prev=f"s{r - 1}", nxt=f"s{r}", step=r,
            pow2arms=pow2arms).replace(
            " AS MATERIALIZED", f" AS{matz}").replace(" DIV ", f" {div} "))
    union = "\nUNION ALL\n".join(
        f"SELECT step, j, cx, cy, leg_d2, total FROM s{r}"
        for r in range(TSP_K))
    return "WITH cities AS{matz} ({cities}),{chain}\n{sel}".format(
        matz=matz, cities=_tsp_cities_sql(), chain=",".join(parts),
        sel=f"""
SELECT CAST(t.step AS INT) AS step, CAST(t.j AS INT) AS city_rank,
       CAST(c.iy * 16 + c.ix AS BIGINT) AS cell_key,
       CAST(c.n AS BIGINT) AS n_events,
       CAST(t.leg_d2 AS BIGINT) AS leg_d2,
       CAST(t.total AS BIGINT) AS total_d2
FROM ({union}) t JOIN cities c ON c.j = t.j""")


def q_tsp_greedy_tour(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return spark.sql(_tsp_chain(""))


ORACLE_TSP = _tsp_chain(" MATERIALIZED", "//")


QUERIES.update({
    "tsp_greedy_tour": (q_tsp_greedy_tour, ORACLE_TSP),
})
