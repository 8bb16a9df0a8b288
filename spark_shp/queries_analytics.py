"""Sixth query batch — analytics & raster-algebra operators that round out
the engine's surface (all oracle-gated exact; none is in the query registry,
which holds only the paper's spatial path):

  * chunk_documents     — sliding-window token chunking with overlap, the
                          RAG/pretraining chunker (text-pipeline family).
  * pareto_frontier     — 2-D skyline over ``part`` (C7/C8 family) via the
                          sort+running-max trick, NOT an O(n^2) self-join.
  * gapfill_locf        — hourly spine + last-observation-carried-forward
                          per sampled user (C5/C7 time-series family).
  * cell_morphology     — raster erosion/boundary extraction on the
                          occupied-cell set (B3 grid-stencil family).
  * map_algebra_cells   — two-layer raster algebra (events density vs
                          images density per cell; B1/B5 family).
  * geohash_encode      — canonical base32 geohash strings from the same
                          Morton machinery (B1 family; verified against the
                          published 'ezs42'/'gcpvj'/'xn76' test vectors).

Scale notes are per-operator in the docstrings; the shared constraint is
the repo rule: exact cross-engine hashes need integer (or copied-through)
values everywhere, with at most one final float division per statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from . import cells, fixtures
from .queries_spatial import N_IMAGES_ORACLE, _images_meta_df, _images_meta_oracle_src


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- chunk_documents: sliding-window token chunking ---------------------------

CHUNK_SIZE = 8   # tokens per chunk
CHUNK_STRIDE = 6  # tokens between chunk starts (overlap = 2)


def q_chunk_documents(spark, sf_dir):
    """Overlapping fixed-size token chunks — the step that turns a cleaned
    corpus into model-ready windows (RAG passages / pretraining sequences).
    Chunk starts at token offsets 0, STRIDE, 2*STRIDE, ... < n_tokens; the
    final chunk may be short. Entirely JVM-side: split → sequence →
    posexplode → slice → array_join, no Python, no shuffle at all (narrow
    per-row fan-out) — at 100 TB this is a map-only stage that parallelizes
    with the scan."""
    d = _t(spark, sf_dir, "documents")
    return d.selectExpr(
        "doc_id", "split(text, ' ') AS toks",
    ).selectExpr(
        "doc_id",
        f"posexplode(sequence(0, greatest(0, size(toks) - 1), {CHUNK_STRIDE}))"
        " AS (chunk_idx, s)",
        "toks",
    ).selectExpr(
        "doc_id",
        "CAST(chunk_idx AS BIGINT) AS chunk_idx",
        f"CAST(size(slice(toks, s + 1, {CHUNK_SIZE})) AS BIGINT) AS n_toks",
        f"array_join(slice(toks, s + 1, {CHUNK_SIZE}), ' ') AS chunk_text",
    )


ORACLE_CHUNKS = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
st AS (SELECT doc_id, ts, CAST(u.s AS BIGINT) AS s
       FROM toks, UNNEST(range(0, GREATEST(len(ts), 1), {CHUNK_STRIDE}))
            AS u(s))
SELECT doc_id,
       CAST(s / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(len(ts[s + 1 : s + {CHUNK_SIZE}]) AS BIGINT) AS n_toks,
       array_to_string(ts[s + 1 : s + {CHUNK_SIZE}], ' ') AS chunk_text
FROM st
"""


# --- pareto_frontier: 2-D skyline over part -----------------------------------

def q_pareto_frontier(spark, sf_dir):
    """Skyline query: parts not dominated on (minimize p_retailprice,
    maximize p_size). A part is dominated iff some other part is <= on
    price AND >= on size with at least one strict. Instead of the naive
    O(n^2) self-join, aggregate to one row per DISTINCT price (max size),
    take a running max of size over ascending price (rows-frame on the
    distinct-price table, where rows == range), and join back: a part
    survives iff no strictly-cheaper price reaches its size AND it carries
    the max size at its own price. The global-order window runs on the
    aggregated distinct-price table — orders of magnitude smaller than the
    fact table — and the join-back broadcasts it; the fact table itself is
    never shuffled."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size")
    byprice = p.groupBy("p_retailprice").agg(F.max("p_size").alias("mx"))
    w = W.orderBy("p_retailprice").rowsBetween(W.unboundedPreceding, -1)
    run = byprice.withColumn("run_lt", F.max("mx").over(w))
    j = p.join(F.broadcast(run), "p_retailprice")
    return (j.where((F.col("run_lt").isNull()
                     | (F.col("run_lt") < F.col("p_size")))
                    & (F.col("mx") <= F.col("p_size")))
            .select("p_partkey", "p_retailprice", "p_size"))


# Independent algorithm on the oracle side: literal NOT EXISTS dominance —
# a stronger differential than replaying the window trick.
ORACLE_PARETO = """
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
"""


# --- gapfill_locf: hourly spine + last-observation-carried-forward -----------

GAPFILL_USER_MOD = 101  # sampled users: user_id % 101 == 0
HOUR_US = 3_600_000_000


def q_gapfill_locf(spark, sf_dir):
    """Time-series gap filling: for each sampled user, build the dense
    hourly spine between their first and last event hour and carry the
    last observed ``value`` forward into empty hours (LOCF). The spine is
    generated distributed (sequence+explode per user — no driver loop),
    sized by each user's own span; the LOCF is one window pass per user.
    Values are copied, never recomputed, so the float column hashes
    exactly. Scale: output is O(users x span-hours), each user's chain is
    independent — partition by user and it parallelizes perfectly."""
    e = (_t(spark, sf_dir, "events")
         .where(f"user_id % {GAPFILL_USER_MOD} = 0")
         .selectExpr(
             "user_id", "event_id", "value",
             f"CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) "
             f"/ {float(HOUR_US)!r}) AS BIGINT) AS hr",
             "ts"))
    # last observation within each observed hour
    wlast = W.partitionBy("user_id", "hr").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    hourly = (e.withColumn("rn", F.row_number().over(wlast))
              .where("rn = 1").select("user_id", "hr",
                                      F.col("value").alias("hv")))
    spine = (e.groupBy("user_id")
             .agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
             .selectExpr("user_id",
                         "explode(sequence(mn, mx)) AS hr"))
    j = spine.join(hourly, ["user_id", "hr"], "left")
    wf = (W.partitionBy("user_id").orderBy("hr")
          .rowsBetween(W.unboundedPreceding, 0))
    return (j.withColumn("val", F.last("hv", ignorenulls=True).over(wf))
            .selectExpr("user_id", "hr", "val",
                        "CAST(hv IS NOT NULL AS INT) AS observed"))


ORACLE_GAPFILL = f"""
WITH e AS (
  SELECT user_id, event_id, value, ts,
         CAST(FLOOR(epoch_us(ts) / {float(HOUR_US)!r}) AS BIGINT) AS hr
  FROM events WHERE user_id % {GAPFILL_USER_MOD} = 0),
hourly AS (
  SELECT user_id, hr, value AS hv FROM (
    SELECT user_id, hr, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, hr
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM e) t WHERE rn = 1),
b AS (SELECT user_id, MIN(hr) AS mn, MAX(hr) AS mx FROM e GROUP BY user_id),
spine AS (SELECT user_id, CAST(u.h AS BIGINT) AS hr
          FROM b, UNNEST(range(mn, mx + 1)) AS u(h))
SELECT s.user_id, s.hr,
       LAST_VALUE(h.hv IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.hr
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS val,
       CAST(CASE WHEN h.hv IS NOT NULL THEN 1 ELSE 0 END AS INT) AS observed
FROM spine s LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hr = s.hr
"""


# --- cell_morphology: erosion / boundary extraction on the cell raster -------

MORPH_LEVEL = 6  # 64x64 world grid — mixed occupancy at every driver SF

_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)]


def q_cell_morphology(spark, sf_dir):
    """Binary raster morphology over the occupied-cell set of ``events``:
    a cell is INTERIOR iff all 8 neighbors are occupied (erosion), else
    BOUNDARY — the same stencil shape as focal_density but over set
    membership, i.e. the morphological-erosion / edge-extraction step of a
    density-mask pipeline. Lattice-edge cells are boundary by construction
    (their outside neighbors are unoccupied). Implementation: distinct
    (ix,iy) once, constant 8-way codegen explode, one self-equi-join on
    the shifted key, LEFT join so zero-neighbor islands keep count 0.
    Output folds to one row per ix stripe (all-integer checksums) so the
    gate row stays small at any SF. Scale: everything is keyed by cell —
    two shuffles (distinct + neighbor join) over a set whose size is
    bounded by the lattice (4^level), not the corpus."""
    e = _t(spark, sf_dir, "events")
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, MORPH_LEVEL)
    occ = e.selectExpr(f"{ix} AS ix", f"{iy} AS iy").distinct()
    shifted = occ.selectExpr(
        f"explode(array({','.join(f'struct(ix + {dx} AS nx, iy + {dy} AS ny)' for dx, dy in _OFFSETS)})) AS o"
    ).selectExpr("o.nx AS ix", "o.ny AS iy")
    n_nb = shifted.groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("n_nb"))
    cellrows = (occ.join(n_nb, ["ix", "iy"], "left")
                .selectExpr("ix", "iy", "COALESCE(n_nb, 0) AS n_nb")
                .selectExpr("ix", "iy",
                            "CAST(n_nb = 8 AS INT) AS interior"))
    return (cellrows.groupBy("ix")
            .agg(F.count(F.lit(1)).alias("n_occ"),
                 F.sum("interior").alias("n_interior"),
                 F.sum(F.expr("iy * (1 + interior)")).alias("checksum"))
            .selectExpr("ix", "CAST(n_occ AS BIGINT) AS n_occ",
                        "CAST(n_interior AS BIGINT) AS n_interior",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_morphology() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, MORPH_LEVEL)
    offs = ",".join(f"({dx},{dy})" for dx, dy in _OFFSETS)
    return f"""
WITH occ AS (SELECT DISTINCT {ix} AS ix, {iy} AS iy FROM events),
off AS (SELECT * FROM (VALUES {offs}) AS o(dx, dy)),
nb AS (
  SELECT a.ix, a.iy, COUNT(b.ix) AS n_nb
  FROM occ a CROSS JOIN off
  LEFT JOIN occ b ON b.ix = a.ix + off.dx AND b.iy = a.iy + off.dy
  GROUP BY a.ix, a.iy),
cellrows AS (
  SELECT ix, iy, CASE WHEN n_nb = 8 THEN 1 ELSE 0 END AS interior FROM nb)
SELECT ix, CAST(COUNT(*) AS BIGINT) AS n_occ,
       CAST(SUM(interior) AS BIGINT) AS n_interior,
       CAST(SUM(iy * (1 + interior)) AS BIGINT) AS checksum
FROM cellrows GROUP BY ix
"""


# --- map_algebra_cells: two-layer raster algebra ------------------------------

ALGEBRA_LEVEL = 8


def q_map_algebra_cells(spark, sf_dir):
    """Raster (map) algebra: overlay the events-density grid and the
    images-density grid at the same cell level and compute per-cell
    difference and ratio — the cross-layer normalization step of any
    multi-source spatial rollup (e.g. observations per asset). Both layers
    aggregate map-side to one row per cell BEFORE the join, so the full
    outer join is cell-count-bounded (4^level), independent of corpus
    size. diff is exact int64; ratio is ONE int/int float64 division
    (bit-deterministic on both engines, the repo's autocorr rule)."""
    e = _t(spark, sf_dir, "events")
    ecell = e.selectExpr(
        f"{cells.cell_sql(fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL, ALGEBRA_LEVEL)} AS cell_id")
    eg = ecell.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_events"))
    img = _images_meta_df(spark, N_IMAGES_ORACLE, full_schema=False)
    ig = (img.selectExpr(
        f"{cells.cell_sql('lon', 'lat', ALGEBRA_LEVEL)} AS cell_id")
        .groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_images")))
    j = eg.join(ig, "cell_id", "full_outer")
    return j.selectExpr(
        "cell_id",
        "CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events",
        "CAST(COALESCE(n_images, 0) AS BIGINT) AS n_images",
        "CAST(COALESCE(n_events, 0) - COALESCE(n_images, 0) AS BIGINT) AS diff",
        "CASE WHEN COALESCE(n_images, 0) > 0 THEN "
        "CAST(COALESCE(n_events, 0) AS DOUBLE) / COALESCE(n_images, 0) "
        "END AS ratio")


def _oracle_map_algebra() -> str:
    return f"""
WITH eg AS (
  SELECT {cells.cell_sql(fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL, ALGEBRA_LEVEL)} AS cell_id,
         COUNT(*) AS n_events
  FROM events GROUP BY 1),
ig AS (
  SELECT {cells.cell_sql('lon', 'lat', ALGEBRA_LEVEL)} AS cell_id,
         COUNT(*) AS n_images
  FROM {_images_meta_oracle_src(N_IMAGES_ORACLE)} img GROUP BY 1)
SELECT COALESCE(eg.cell_id, ig.cell_id) AS cell_id,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       CAST(COALESCE(n_images, 0) AS BIGINT) AS n_images,
       CAST(COALESCE(n_events, 0) - COALESCE(n_images, 0) AS BIGINT) AS diff,
       CASE WHEN COALESCE(n_images, 0) > 0 THEN
         CAST(COALESCE(n_events, 0) AS DOUBLE) / COALESCE(n_images, 0)
       END AS ratio
FROM eg FULL OUTER JOIN ig ON eg.cell_id = ig.cell_id
"""


# --- geohash_encode: canonical base32 geohash ---------------------------------

GH_BITS_PER_AXIS = 15  # 6 chars = 30 bits = 15 lon + 15 lat
GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash6_sql(lon: str, lat: str) -> str:
    """Canonical 6-character geohash as a dialect-shared SQL expression.

    Geohash interleaves bits MSB-first starting with LONGITUDE over the
    ±180/±90 ranges (note: ±90 latitude, unlike the engine's internal
    ±85 cells), then maps 5-bit groups to the base32 alphabet. In the
    engine's LSB-spread terms that is ``spread(iy) | spread(ix) << 1``
    — morton_sql with (iy, ix) swapped. Verified this session against the
    published vectors: (-5.603, 42.605) → 'ezs42…', London → 'gcpvj…',
    Tokyo → 'xn76…'. Pure integer/float arithmetic valid in Spark SQL and
    DuckDB alike (no bit-shift operators needed: values < 2**30)."""
    n = 1 << GH_BITS_PER_AXIS
    ix = (f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR((({lon}) + 180.0) / 360.0 "
          f"* {float(n)!r}) AS BIGINT)))")
    iy = (f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR((({lat}) + 90.0) / 180.0 "
          f"* {float(n)!r}) AS BIGINT)))")
    g = cells.morton_sql(iy, ix)  # lon bits land at odd (higher) positions
    chars = []
    for i in range(6):
        shift = 1 << (25 - 5 * i)
        idx = f"(CAST(FLOOR(({g}) / {float(shift)!r}) AS BIGINT) % 32)"
        chars.append(f"SUBSTRING('{GH_ALPHABET}', CAST({idx} + 1 AS INT), 1)")
    return "CONCAT(" + ", ".join(chars) + ")"


def geohash6_spark_expr(lon: str, lat: str) -> str:
    """Spark-side geohash: the interleaved 30-bit integer appears ONCE,
    rendered base-32 by CONV and re-alphabeted by TRANSLATE (Spark CONV
    digits are 0-9A-V; geohash's alphabet skips a/i/l/o). The
    per-character arithmetic formulation (_geohash6_sql, kept for the
    DuckDB oracle where it runs on sf0.01-sized inputs) duplicates the
    whole Morton tree into each of 6 SUBSTRING chars after projection
    collapse — measured 31x slower than Morton at 200M rows
    (BENCH/ANALYTICS.json before/after)."""
    n = 1 << GH_BITS_PER_AXIS
    ix = (f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR((({lon}) + 180.0) / 360.0 "
          f"* {float(n)!r}) AS BIGINT)))")
    iy = (f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR((({lat}) + 90.0) / 180.0 "
          f"* {float(n)!r}) AS BIGINT)))")
    g = cells.morton_sql(iy, ix)
    return (f"TRANSLATE(LPAD(CONV(CAST(({g}) AS STRING), 10, 32), 6, '0'), "
            f"'0123456789ABCDEFGHIJKLMNOPQRSTUV', '{GH_ALPHABET}')")


def q_geohash_encode(spark, sf_dir):
    """Geohash the events table and aggregate per 4-character prefix —
    interop with the one cell format the rest of the geo world speaks.
    The full 6-char hash is gated through MIN(gh6) per prefix plus an
    event-id checksum, so a single wrong bit in any row flips the result.
    Pure codegen arithmetic + one groupBy: scales like tile_assign (see
    geohash6_spark_expr for the CONV formulation that keeps it there)."""
    e = _t(spark, sf_dir, "events")
    gh = geohash6_spark_expr(fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL)
    return (e.selectExpr("event_id", f"{gh} AS gh6")
            .selectExpr("event_id", "gh6", "SUBSTRING(gh6, 1, 4) AS gh4")
            .groupBy("gh4")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("gh6").alias("min_gh6"),
                 F.sum("event_id").alias("id_sum"))
            .selectExpr("gh4", "CAST(n_events AS BIGINT) AS n_events",
                        "min_gh6", "CAST(id_sum AS BIGINT) AS id_sum"))


def _oracle_geohash() -> str:
    gh = _geohash6_sql(fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL)
    return f"""
WITH g AS (SELECT event_id, {gh} AS gh6 FROM events)
SELECT SUBSTRING(gh6, 1, 4) AS gh4,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(gh6) AS min_gh6,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM g GROUP BY 1
"""


# --- decayed_cell_scores: exponentially time-decayed density ------------------

DECAY_BUCKET_US = 6 * HOUR_US  # one half-life = 6 hours
DECAY_MAX_BUCKET = 10
DECAY_SCALE = 1024  # weight = 1024 >> bucket — exact integers throughout


def q_decayed_cell_scores(spark, sf_dir):
    """Freshness-weighted density per cell: each event contributes
    1024 / 2^b where b = min(10, age in 6-hour half-lives from the
    corpus's newest event) — the recency-decayed heatmap every monitoring
    rollup wants, kept EXACT by using power-of-two integer weights instead
    of float exp(). The global max timestamp is a one-row aggregate
    broadcast into the scan (no second pass, no driver round-trip
    dependency on data size); then one map-side-combinable groupBy."""
    e = _t(spark, sf_dir, "events").selectExpr(
        "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us",
        f"{cells.cell_sql(fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL, ALGEBRA_LEVEL)} AS cell_id")
    mx = e.agg(F.max("us").alias("mx"))
    j = e.crossJoin(F.broadcast(mx))
    b = (f"LEAST({DECAY_MAX_BUCKET}, "
         f"CAST(FLOOR((mx - us) / {float(DECAY_BUCKET_US)!r}) AS BIGINT))")
    w = f"CAST(FLOOR({DECAY_SCALE} / POWER(2.0, {b})) AS BIGINT)"
    return (j.selectExpr("cell_id", f"{w} AS w")
            .groupBy("cell_id")
            .agg(F.sum("w").alias("score"), F.count(F.lit(1)).alias("n"))
            .where(F.col("score") >= DECAY_SCALE)
            .selectExpr("cell_id", "CAST(score AS BIGINT) AS score",
                        "CAST(n AS BIGINT) AS n"))


def _oracle_decayed() -> str:
    b = (f"LEAST({DECAY_MAX_BUCKET}, "
         f"CAST(FLOOR((mx - us) / {float(DECAY_BUCKET_US)!r}) AS BIGINT))")
    w = f"CAST(FLOOR({DECAY_SCALE} / POWER(2.0, {b})) AS BIGINT)"
    return f"""
WITH e AS (
  SELECT epoch_us(ts) AS us,
         {cells.cell_sql(fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL, ALGEBRA_LEVEL)} AS cell_id
  FROM events),
m AS (SELECT MAX(us) AS mx FROM e)
SELECT cell_id, CAST(SUM({w}) AS BIGINT) AS score,
       CAST(COUNT(*) AS BIGINT) AS n
FROM e, m GROUP BY cell_id HAVING SUM({w}) >= {DECAY_SCALE}
"""


# --- bearing_histogram: 8-octant compass histogram of consecutive moves ------

def _octant_sql(dx: str, dy: str) -> str:
    """Octant 0..7 counterclockwise from East, split at the 45° lines —
    decided purely by sign and |dx| vs |dy| comparisons (no atan2, no
    trig), so the bucket is bit-deterministic on both engines. Boundary
    ties resolve by the CASE order (>= vs >), identically everywhere."""
    adx, ady = f"ABS({dx})", f"ABS({dy})"
    return f"""CASE
  WHEN ({dx}) >= 0 AND ({dy}) >= 0 THEN
    (CASE WHEN {ady} > {adx} THEN 1 ELSE 0 END)
  WHEN ({dx}) < 0 AND ({dy}) >= 0 THEN
    (CASE WHEN {ady} > {adx} THEN 2 ELSE 3 END)
  WHEN ({dx}) < 0 AND ({dy}) < 0 THEN
    (CASE WHEN {ady} > {adx} THEN 5 ELSE 4 END)
  ELSE (CASE WHEN {ady} > {adx} THEN 6 ELSE 7 END) END"""


def q_bearing_histogram(spark, sf_dir):
    """Per-user direction-of-travel histogram: consecutive event positions
    become moves, bucketed into 8 compass octants by pure comparisons
    (see _octant_sql — no trig, exact), with integer-µs dwell sums. The
    movement-pattern profile of a trajectory pipeline. One user-keyed
    window shuffle + one agg; zero-length moves are excluded so the
    octant never sees a 0/0 direction."""
    e = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id",
        "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us",
        f"{fixtures.EVENT_LON_SQL} AS lon", f"{fixtures.EVENT_LAT_SQL} AS lat")
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    m = (e.withColumn("plon", F.lag("lon").over(w))
         .withColumn("plat", F.lag("lat").over(w))
         .withColumn("pus", F.lag("us").over(w))
         .where("plon IS NOT NULL AND (lon != plon OR lat != plat)"))
    oct_ = _octant_sql("lon - plon", "lat - plat")
    return (m.selectExpr("user_id", f"CAST({oct_} AS INT) AS octant",
                         "us - pus AS dur_us")
            .groupBy("user_id", "octant")
            .agg(F.count(F.lit(1)).alias("n_moves"),
                 F.sum("dur_us").alias("sum_dur_us"))
            .selectExpr("user_id", "octant",
                        "CAST(n_moves AS BIGINT) AS n_moves",
                        "CAST(sum_dur_us AS BIGINT) AS sum_dur_us"))


def _oracle_bearing() -> str:
    oct_ = _octant_sql("lon - plon", "lat - plat")
    return f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         {fixtures.EVENT_LON_SQL} AS lon, {fixtures.EVENT_LAT_SQL} AS lat
  FROM events),
m AS (
  SELECT user_id, lon, lat, us,
         LAG(lon) OVER w AS plon, LAG(lat) OVER w AS plat,
         LAG(us) OVER w AS pus
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
SELECT user_id, CAST({oct_} AS INT) AS octant,
       CAST(COUNT(*) AS BIGINT) AS n_moves,
       CAST(SUM(us - pus) AS BIGINT) AS sum_dur_us
FROM m WHERE plon IS NOT NULL AND (lon != plon OR lat != plat)
GROUP BY 1, 2
"""


# --- scd2_intervals: slowly-changing-dimension type-2 build -------------------

def q_scd2_intervals(spark, sf_dir):
    """Build an SCD type-2 dimension from the orders stream: per customer,
    consecutive orders sharing o_orderpriority collapse into one validity
    interval [valid_from, valid_to), valid_to = next interval's start
    (NULL for the current version) — the gaps-and-islands pattern every
    warehouse dimension load runs. Timestamps are copied, never computed,
    so they hash exactly. Two windows + one agg, all keyed by customer —
    one shuffle, linear per key."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = F.when(
        F.lag("o_orderpriority").over(w).isNull()
        | (F.lag("o_orderpriority").over(w) != F.col("o_orderpriority")),
        1).otherwise(0)
    grp = (o.withColumn("chg", chg)
           .withColumn("grp", F.sum("chg").over(
               w.rowsBetween(W.unboundedPreceding, 0))))
    g = (grp.groupBy("o_custkey", "grp")
         .agg(F.min("o_orderpriority").alias("priority"),
              F.min("o_orderdate").alias("valid_from"),
              F.count(F.lit(1)).alias("n_orders")))
    w2 = W.partitionBy("o_custkey").orderBy("grp")
    return (g.withColumn("valid_to", F.lead("valid_from").over(w2))
            .selectExpr("o_custkey", "priority", "valid_from", "valid_to",
                        "CAST(n_orders AS BIGINT) AS n_orders"))


ORACLE_SCD2 = """
WITH o AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         CASE WHEN LAG(o_orderpriority) OVER w IS NULL
              OR LAG(o_orderpriority) OVER w != o_orderpriority
         THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
g0 AS (
  SELECT o_custkey, o_orderpriority, o_orderdate,
         SUM(chg) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM o),
g AS (
  SELECT o_custkey, grp, MIN(o_orderpriority) AS priority,
         MIN(o_orderdate) AS valid_from, COUNT(*) AS n_orders
  FROM g0 GROUP BY o_custkey, grp)
SELECT o_custkey, priority, valid_from,
       LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY grp)
         AS valid_to,
       CAST(n_orders AS BIGINT) AS n_orders
FROM g
"""


# --- triangle_count: degree-oriented triangle counting on the dedup graph ----

TRI_MIN_BANDS = 4  # same edge set dedup_clusters uses


def triangle_census(pairs: DataFrame) -> DataFrame:
    """Triangle census of an undirected simple graph given as distinct
    (doc_a, doc_b) edges with doc_a < doc_b: node / edge / wedge /
    triangle counts plus the global clustering coefficient 3T/W. Uses
    DEGREE ORIENTATION — every edge is directed from its lower-(degree,
    id) endpoint, so each triangle is counted exactly once and the wedge
    fan-out per node is bounded by its oriented out-degree (the standard
    trick that keeps distributed triangle counting from exploding on hubs
    at 100 TB; a hub of degree d contributes O(d) as a spoke but only
    O(out-deg²) as a pivot). Two equi-joins on node keys; all counts
    exact int64; the coefficient is one int/int division."""
    deg = (pairs.selectExpr("doc_a AS v").unionAll(
        pairs.selectExpr("doc_b AS v"))
        .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
    # sortable orientation key: degree-major, id tiebreak (d*2^32 + v is
    # exact: d, v both < 2^31 here and at any plausible corpus scale the
    # product stays < 2^52 — the repo's ANSI-overflow rule)
    e = (pairs
         .join(deg.selectExpr("v AS doc_a", "d AS da"), "doc_a")
         .join(deg.selectExpr("v AS doc_b", "d AS db"), "doc_b")
         .selectExpr(
             "CASE WHEN da * 4294967296 + doc_a < db * 4294967296 + doc_b "
             "THEN doc_a ELSE doc_b END AS src",
             "CASE WHEN da * 4294967296 + doc_a < db * 4294967296 + doc_b "
             "THEN db * 4294967296 + doc_b ELSE da * 4294967296 + doc_a "
             "END AS dst_key",
             "CASE WHEN da * 4294967296 + doc_a < db * 4294967296 + doc_b "
             "THEN doc_b ELSE doc_a END AS dst"))
    o1, o2 = e.alias("o1"), e.alias("o2")
    wedges = (o1.join(o2, (F.col("o1.src") == F.col("o2.src"))
                      & (F.col("o1.dst_key") < F.col("o2.dst_key")))
              .select(F.col("o1.dst").alias("w1"),
                      F.col("o2.dst").alias("w2")))
    closing = e.selectExpr("src AS w1", "dst AS w2")
    tri = wedges.join(closing, ["w1", "w2"]).agg(
        F.count(F.lit(1)).alias("n_triangles"))
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.sum(F.expr("d * (d - 1)")).alias("wedges2"))
    ne = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (nn.crossJoin(ne).crossJoin(tri).selectExpr(
        "CAST(n_nodes AS BIGINT) AS n_nodes",
        "CAST(n_edges AS BIGINT) AS n_edges",
        "CAST(wedges2 / 2 AS BIGINT) AS n_wedges",
        "CAST(n_triangles AS BIGINT) AS n_triangles",
        "CASE WHEN wedges2 > 0 THEN CAST(3 * n_triangles * 2 AS DOUBLE) "
        "/ wedges2 END AS clustering_coef"))


def q_triangle_count(spark, sf_dir):
    """Triangle census of the near-duplicate graph (LSH pairs with
    ≥ TRI_MIN_BANDS matching bands — the dedup_clusters edge set).
    See triangle_census for the degree-orientation plan."""
    from .queries_text import q_minhash_lsh_pairs
    pairs = (q_minhash_lsh_pairs(spark, sf_dir)
             .where(F.col("n_bands") >= TRI_MIN_BANDS)
             .select("doc_a", "doc_b"))
    return triangle_census(pairs)


def _oracle_triangles() -> str:
    from .queries_text import ORACLE_LSH_PAIRS
    return f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({ORACLE_LSH_PAIRS}) lp
  WHERE n_bands >= {TRI_MIN_BANDS}),
deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT doc_a AS v FROM pairs UNION ALL SELECT doc_b FROM pairs) u
  GROUP BY v),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM pairs p1 JOIN pairs p2 ON p2.doc_a = p1.doc_b
  JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b),
agg AS (
  SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
         (SELECT COUNT(*) FROM pairs) AS n_edges,
         (SELECT SUM(d * (d - 1)) FROM deg) AS wedges2,
         (SELECT n_triangles FROM tri) AS n_triangles)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST(wedges2 / 2 AS BIGINT) AS n_wedges,
       CAST(n_triangles AS BIGINT) AS n_triangles,
       CASE WHEN wedges2 > 0 THEN CAST(3 * n_triangles * 2 AS DOUBLE)
       / wedges2 END AS clustering_coef
FROM agg
"""


# --- hilbert_assign: Hilbert space-filling-curve index ------------------------

HILBERT_LEVEL = 8  # 256 x 256 grid, d in [0, 65536)
HILBERT_BUCKET = 4096


def hilbert_d_np(ix, iy, level: int):
    """Vectorized Hilbert xy→d (Wikipedia recurrence). The rotation flips
    against the FULL lattice size (n-1-x), not the quadrant size: both
    variants produce the identical curve (verified exhaustively), but the
    n-bounded flip keeps every intermediate coordinate NON-NEGATIVE —
    load-bearing for the SQL twin, because SQL ``%`` keeps the dividend's
    sign while numpy's is always non-negative (the repo-wide hashing
    rule; the s-bounded variant diverged at stage 5 on real data).
    Validated this session: bijective and unit-Manhattan-adjacent for
    consecutive d over the full lattice — the defining property. Hilbert
    is the better-locality alternative to the engine's Morton cells (no
    long diagonal jumps at quadrant boundaries), which matters for range
    scans over a curve-clustered table layout."""
    import numpy as np
    x = np.asarray(ix, dtype=np.int64).copy()
    y = np.asarray(iy, dtype=np.int64).copy()
    d = np.zeros_like(x)
    n = 1 << level
    s = n // 2
    while s > 0:
        rx = (x // s) % 2
        ry = (y // s) % 2
        d += s * s * ((3 * rx) ^ ry)
        flip = (ry == 0) & (rx == 1)
        x2 = np.where(flip, n - 1 - x, x)
        y2 = np.where(flip, n - 1 - y, y)
        swap = ry == 0
        x, y = np.where(swap, y2, x2), np.where(swap, x2, y2)
        s //= 2
    return d


def _hilbert_sql_stages(level: int) -> list:
    """The same recurrence as staged (exprs_a, exprs_b) pairs over state
    columns (hx, hy, hd): stage A materializes the quadrant bits, stage B
    rewrites the state. Pure integer/FLOOR arithmetic valid in both
    dialects (the cells.py convention)."""
    stages = []
    n = 1 << level
    s = n // 2
    while s > 0:
        div = f"CAST(FLOOR(hx / {float(s)!r}) AS BIGINT) % 2"
        div_y = f"CAST(FLOOR(hy / {float(s)!r}) AS BIGINT) % 2"
        a = ["hx", "hy", "hd", f"({div}) AS rx", f"({div_y}) AS ry"]
        quad = ("CASE WHEN rx = 0 AND ry = 0 THEN 0 WHEN rx = 0 THEN 1 "
                "WHEN ry = 1 THEN 2 ELSE 3 END")
        # flip against n-1 (NOT s-1): keeps hx/hy non-negative at every
        # stage so the %-on-negatives dialect divergence can't occur
        b = [
            f"CASE WHEN ry = 1 THEN hx WHEN rx = 1 THEN {n - 1} - hy "
            "ELSE hy END AS hx",
            f"CASE WHEN ry = 1 THEN hy WHEN rx = 1 THEN {n - 1} - hx "
            "ELSE hx END AS hy",
            f"hd + {s * s} * ({quad}) AS hd",
        ]
        stages.append((a, b))
        s //= 2
    return stages


HILBERT_BITS = 16  # fixed internal word width of the branchless transform


def hilbert_branchless_stages(level: int) -> list:
    """Hilbert xy→d as ~12 staged projections of pure int64 bitwise ops —
    the word-parallel parallel-prefix formulation (the per-level rotation
    state for ALL levels is computed at once by a log-step prefix scan
    over bitmasks, then index bits are recovered and Morton-interleaved;
    public-domain branchless technique). Verified bit-identical to
    hilbert_d_np over the FULL 256x256 and 64x64 lattices.

    Why this shape and not the per-level recurrence: both alternatives
    measured catastrophically slow at 20M rows on local[32] —
    the staged CASE recurrence 3.6M rows/s (Catalyst inlines the
    mutually-referencing CASE stages into a ~2^levels tree) and an
    `aggregate()` HOF fold 2.0M rows/s (linear tree, but Spark evaluates
    higher-order functions INTERPRETED, never codegen) — while this
    branchless chain runs 34.5M rows/s at the same N, at Morton
    tile-assign speed, entirely inside whole-stage codegen. A
    vectorized-numpy pandas_udf of the same algorithm reached only
    20M rows/s (Arrow transfer bound). Numbers: BENCH/ANALYTICS.json.

    Input columns: hx, hy (quantized level-`level` cells). Output: hd.
    Every intermediate is non-negative, every op is &, |, ^, shifts."""
    m = (1 << HILBERT_BITS) - 1
    sh = HILBERT_BITS - level

    def sr(v, k):
        return f"SHIFTRIGHT({v}, {k})"

    rounds = [[f"SHIFTLEFT(hx, {sh}) AS x", f"SHIFTLEFT(hy, {sh}) AS y"]]
    rounds.append(["x", "y", "(x ^ y) AS a", f"({m} ^ (x ^ y)) AS b",
                   f"({m} ^ (x | y)) AS c", f"(x & (y ^ {m})) AS d"])
    rounds.append(["x", "y",
                   f"(a | {sr('b', 1)}) AS A",
                   f"({sr('a', 1)} ^ a) AS B",
                   f"(({sr('c', 1)} ^ (b & {sr('d', 1)})) ^ c) AS C",
                   f"(((a & {sr('c', 1)}) ^ {sr('d', 1)}) ^ d) AS D"])
    for k in (2, 4):
        rounds.append([
            "x", "y",
            f"((A & {sr('A', k)}) ^ (B & {sr('B', k)})) AS A",
            f"((A & {sr('B', k)}) ^ (B & {sr('(A ^ B)', k)})) AS B",
            f"(C ^ ((A & {sr('C', k)}) ^ (B & {sr('D', k)}))) AS C",
            f"(D ^ ((B & {sr('C', k)}) ^ ((A ^ B) & {sr('D', k)}))) AS D"])
    rounds.append([
        "x", "y", "A", "B",
        f"(C ^ ((A & {sr('C', 8)}) ^ (B & {sr('D', 8)}))) AS C",
        f"(D ^ ((B & {sr('C', 8)}) ^ ((A ^ B) & {sr('D', 8)}))) AS D"])
    rounds.append(["x", "y",
                   f"(C ^ {sr('C', 1)}) AS a", f"(D ^ {sr('D', 1)}) AS b"])
    rounds.append(["(x ^ y) AS i0",
                   f"(b | ({m} ^ ((x ^ y) | a))) AS i1"])
    for shf, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                      (2, 0x33333333), (1, 0x55555555)):
        rounds.append([
            f"((i0 | SHIFTLEFT(i0, {shf})) & {mask}) AS i0",
            f"((i1 | SHIFTLEFT(i1, {shf})) & {mask}) AS i1"])
    rounds.append([
        f"SHIFTRIGHT(SHIFTLEFT(i1, 1) | i0, {2 * sh}) AS hd"])
    return rounds


def q_hilbert_assign(spark, sf_dir):
    """Hilbert-curve assignment of events at level 8, profiled per curve
    bucket (16 ranges of 4096 d-values) with an id-weighted checksum that
    would catch a single wrong curve position. The branchless bitwise
    stages stay inside whole-stage codegen (no Python, no shuffle before
    the final agg) — see hilbert_branchless_stages for why it's neither
    a staged CASE recurrence nor an aggregate() fold. Why it's here: a
    curve-clustered Iceberg layout wants Hilbert rather than Morton for
    range locality — the pytest quantifies the locality win on real
    consecutive event hops."""
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, HILBERT_LEVEL)
    d = _t(spark, sf_dir, "events").selectExpr(
        "event_id", f"{ix} AS hx", f"{iy} AS hy")
    for stage in hilbert_branchless_stages(HILBERT_LEVEL):
        d = d.selectExpr("event_id", *stage)
    return (d.selectExpr(
        f"CAST(FLOOR(hd / {float(HILBERT_BUCKET)!r}) AS BIGINT) AS bucket",
        "hd", "event_id")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("hd").alias("min_d"), F.max("hd").alias("max_d"),
             F.sum(F.expr("hd * (1 + event_id % 97)")).alias("checksum"))
        .selectExpr("bucket", "CAST(n_events AS BIGINT) AS n_events",
                    "CAST(min_d AS BIGINT) AS min_d",
                    "CAST(max_d AS BIGINT) AS max_d",
                    "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_hilbert() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, HILBERT_LEVEL)
    ctes = [f"s0 AS (SELECT event_id, {ix} AS hx, {iy} AS hy, "
            "CAST(0 AS BIGINT) AS hd FROM events)"]
    prev = "s0"
    for i, (a, b) in enumerate(_hilbert_sql_stages(HILBERT_LEVEL)):
        ctes.append(
            f"a{i} AS (SELECT event_id, {', '.join(a)} FROM {prev})")
        ctes.append(f"b{i} AS (SELECT event_id, {', '.join(b)} FROM a{i})")
        prev = f"b{i}"
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT CAST(FLOOR(hd / {float(HILBERT_BUCKET)!r}) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(hd) AS BIGINT) AS min_d,
       CAST(MAX(hd) AS BIGINT) AS max_d,
       CAST(SUM(hd * (1 + event_id % 97)) AS BIGINT) AS checksum
FROM {prev} GROUP BY 1
"""


# --- markov_transitions: event-type transition matrix -------------------------

def q_markov_transitions(spark, sf_dir):
    """First-order Markov transition counts + probabilities over per-user
    event sequences — the n-gram/transition statistics a sequence-model
    feature pipeline extracts. One user-keyed window shuffle for the lag,
    one global (prev,next) agg (tiny key space: |event_type|²), then the
    per-prev normalizer folds in via a window over the aggregated matrix
    (a few dozen rows — no second scan). Counts exact int64, probability
    ONE int/int division."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        "ts", "event_id")
    m = (e.withColumn("prev_type", F.lag("event_type").over(w))
         .where("prev_type IS NOT NULL")
         .groupBy("prev_type", F.col("event_type").alias("next_type"))
         .agg(F.count(F.lit(1)).alias("n")))
    tot = W.partitionBy("prev_type")
    return (m.withColumn("row_total", F.sum("n").over(tot))
            .selectExpr("prev_type", "next_type",
                        "CAST(n AS BIGINT) AS n",
                        "CAST(n AS DOUBLE) / row_total AS p"))


ORACLE_MARKOV = """
WITH s AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events),
m AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type) AS p
FROM m
"""


# --- rfm_segments: recency/frequency/monetary customer scoring ---------------

_D18 = "DECIMAL(18,6)"


def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation: per customer, recency (days since last
    order, against the corpus max date), frequency (order count), monetary
    (DECIMAL-exact spend), each scored into quintiles by ntile with a
    custkey tiebreak so the bucketing is total-order deterministic across
    engines and partitionings. The three ntile windows run over the
    per-customer AGGREGATE (one row per customer), not the fact table.
    Monetary goes through DECIMAL and back to DOUBLE — the repo's exact-
    money pattern."""
    o = _t(spark, sf_dir, "orders")
    per = (o.groupBy("o_custkey")
           .agg(F.max("o_orderdate").alias("last_order"),
                F.count(F.lit(1)).alias("frequency"),
                F.sum(F.col("o_totalprice").cast(_D18))
                .cast("decimal(38,6)").cast("double").alias("monetary")))
    mx = per.agg(F.max("last_order").alias("mxd"))
    j = per.crossJoin(F.broadcast(mx)).selectExpr(
        "o_custkey", "frequency", "monetary",
        "CAST(datediff(mxd, last_order) AS BIGINT) AS recency_days")
    r_w = W.orderBy(F.col("recency_days").asc(), F.col("o_custkey").asc())
    f_w = W.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc())
    m_w = W.orderBy(F.col("monetary").desc(), F.col("o_custkey").asc())
    return (j.withColumn("r_score", F.ntile(5).over(r_w))
            .withColumn("f_score", F.ntile(5).over(f_w))
            .withColumn("m_score", F.ntile(5).over(m_w))
            .selectExpr("o_custkey", "recency_days",
                        "CAST(frequency AS BIGINT) AS frequency", "monetary",
                        "CAST(r_score AS INT) AS r_score",
                        "CAST(f_score AS INT) AS f_score",
                        "CAST(m_score AS INT) AS m_score",
                        "CONCAT(r_score, f_score, m_score) AS segment"))


ORACLE_RFM = f"""
WITH per AS (
  SELECT o_custkey, MAX(o_orderdate) AS last_order,
         COUNT(*) AS frequency,
         CAST(CAST(SUM(CAST(o_totalprice AS {_D18})) AS DECIMAL(38,6))
              AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey),
mx AS (SELECT MAX(last_order) AS mxd FROM per),
j AS (
  SELECT o_custkey, frequency, monetary,
         CAST(datediff('day', last_order, mxd) AS BIGINT) AS recency_days
  FROM per, mx),
s AS (
  SELECT j.*,
         NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
         NTILE(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
         NTILE(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_score
  FROM j)
SELECT o_custkey, recency_days, CAST(frequency AS BIGINT) AS frequency,
       monetary, CAST(r_score AS INT) AS r_score,
       CAST(f_score AS INT) AS f_score, CAST(m_score AS INT) AS m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment
FROM s
"""


# --- benford_first_digit: leading-digit distribution data-quality check ------

def q_benford_first_digit(spark, sf_dir):
    """Benford's-law audit of order totals — the classic anomaly /
    fabricated-data screen. The leading digit comes from the integer cents
    rendered as a string (FLOOR(x*100+0.5) is the same float64 op sequence
    on both engines; integer-to-string rendering is identical), never from
    float log10, so digit boundaries can't flip. Expected Benford share is
    the identical LN literal sequence on both engines; observed share is
    count/total with the total folded in via a 9-row window."""
    o = _t(spark, sf_dir, "orders")
    d = o.selectExpr(
        "SUBSTRING(CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) "
        "AS STRING), 1, 1) AS digit")
    return (d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
            .selectExpr(
                "digit", "CAST(n AS BIGINT) AS n",
                "CAST(n AS DOUBLE) / SUM(n) OVER () AS observed_share",
                "LN(1.0 + 1.0 / CAST(digit AS DOUBLE)) / LN(10.0) "
                "AS benford_share"))


ORACLE_BENFORD = """
WITH d AS (
  SELECT SUBSTRING(CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
                   AS VARCHAR), 1, 1) AS digit
  FROM orders),
g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit)
SELECT digit, CAST(n AS BIGINT) AS n,
       CAST(n AS DOUBLE) / SUM(n) OVER () AS observed_share,
       LN(1.0 + 1.0 / CAST(digit AS DOUBLE)) / LN(10.0) AS benford_share
FROM g
"""


# --- seasonality_profile: day-of-week x hour-of-day activity matrix ----------

DAY_US = 24 * HOUR_US


def q_seasonality_profile(spark, sf_dir):
    """(day-of-week, hour-of-day) activity matrix over events — the
    seasonality fingerprint behind anomaly baselines and capacity models.
    Both buckets derive from integer epoch-microsecond arithmetic
    (1970-01-01 was a Thursday, hence the +4), NOT from engine date_part
    functions whose week-start conventions differ (Spark dayofweek is
    1=Sunday, DuckDB's is 0=Sunday) — engine-independent by construction.
    One map-side-combinable agg; 168 output rows at any scale."""
    e = _t(spark, sf_dir, "events").selectExpr(
        "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us")
    return (e.selectExpr(
        f"CAST((CAST(FLOOR(us / {float(DAY_US)!r}) AS BIGINT) + 4) % 7 "
        "AS INT) AS dow",
        f"CAST(CAST(FLOOR(us / {float(HOUR_US)!r}) AS BIGINT) % 24 "
        "AS INT) AS hod",
        "user_id")
        .groupBy("dow", "hod")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.countDistinct("user_id").alias("n_users"))
        .selectExpr("dow", "hod", "CAST(n_events AS BIGINT) AS n_events",
                    "CAST(n_users AS BIGINT) AS n_users"))


ORACLE_SEASONALITY = f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events)
SELECT CAST((CAST(FLOOR(us / {float(DAY_US)!r}) AS BIGINT) + 4) % 7
            AS INT) AS dow,
       CAST(CAST(FLOOR(us / {float(HOUR_US)!r}) AS BIGINT) % 24
            AS INT) AS hod,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM e GROUP BY 1, 2
"""


# --- inventory_balance: signed running balance per part -----------------------

def q_inventory_balance(spark, sf_dir):
    """Running-inventory reconstruction: lineitem quantities (integer-
    valued doubles, cast exact) signed by return flag ('R' returns stock,
    others draw it down), accumulated per part in ship order; report each
    part's final balance and its running min/max — the drawdown envelope.
    ONE part-keyed window shuffle does the cumsum and the envelope; the
    final agg is map-side-combinable on the same partitioning. All
    integers, exact at any aggregation order."""
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey",
        "CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) "
        "ELSE -CAST(l_quantity AS BIGINT) END AS dq",
        "l_shipdate", "l_orderkey", "l_linenumber")
    w = (W.partitionBy("l_partkey")
         .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
         .rowsBetween(W.unboundedPreceding, 0))
    b = li.withColumn("bal", F.sum("dq").over(w))
    return (b.groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("n_moves"),
                 F.sum("dq").alias("final_balance"),
                 F.min("bal").alias("min_balance"),
                 F.max("bal").alias("max_balance"))
            .selectExpr("l_partkey", "CAST(n_moves AS BIGINT) AS n_moves",
                        "CAST(final_balance AS BIGINT) AS final_balance",
                        "CAST(min_balance AS BIGINT) AS min_balance",
                        "CAST(max_balance AS BIGINT) AS max_balance"))


ORACLE_INVENTORY = """
WITH m AS (
  SELECT l_partkey,
         CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
         ELSE -CAST(l_quantity AS BIGINT) END AS dq,
         l_shipdate, l_orderkey, l_linenumber
  FROM lineitem),
b AS (
  SELECT l_partkey, dq,
         SUM(dq) OVER (PARTITION BY l_partkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber
                       ROWS UNBOUNDED PRECEDING) AS bal
  FROM m)
SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_moves,
       CAST(SUM(dq) AS BIGINT) AS final_balance,
       CAST(MIN(bal) AS BIGINT) AS min_balance,
       CAST(MAX(bal) AS BIGINT) AS max_balance
FROM b GROUP BY l_partkey
"""


# --- hex_bin: hexagonal (axial) binning — the H3-shaped alternative grid -----

HEX_SIZE_DEG = 3.0
_SQRT3_3 = repr(3.0 ** 0.5 / 3.0)  # identical literal on both engines


def _hex_stages(lon: str, lat: str) -> list[str]:
    """Flat-top hexagonal axial binning (the redblobgames pixel→hex
    formulation): fractional axial coords, cube rounding via
    FLOOR(x+0.5) (written explicitly — Spark ROUND and DuckDB ROUND could
    disagree at halves, FLOOR(+0.5) cannot), then the reset-the-largest-
    residual correction. Returned as staged SELECT expressions so Spark
    (selectExpr chain) and DuckDB (nested CTEs) evaluate the IDENTICAL
    float64 op sequence. FLOOR is cast to BIGINT explicitly because Spark
    FLOOR yields BIGINT while DuckDB's yields DOUBLE."""
    s = repr(HEX_SIZE_DEG)
    stage1 = [
        f"((2.0 / 3.0 * ({lon})) / {s}) AS cx",
        f"((-1.0 / 3.0 * ({lon}) + {_SQRT3_3} * ({lat})) / {s}) AS cz",
    ]
    stage2 = [
        "cx", "cz", "(-cx - cz) AS cy",
        "CAST(FLOOR(cx + 0.5) AS BIGINT) AS rx",
        "CAST(FLOOR(cz + 0.5) AS BIGINT) AS rz",
    ]
    stage3 = [
        "cx", "cy", "cz", "rx", "rz",
        "CAST(FLOOR(cy + 0.5) AS BIGINT) AS ry",
    ]
    stage4 = [
        "CASE WHEN ABS(rx - cx) > ABS(ry - cy) AND ABS(rx - cx) > ABS(rz - cz) "
        "THEN -ry - rz ELSE rx END AS hq",
        "CASE WHEN ABS(rx - cx) > ABS(ry - cy) AND ABS(rx - cx) > ABS(rz - cz) "
        "THEN rz "
        "WHEN ABS(ry - cy) > ABS(rz - cz) THEN rz "
        "ELSE -rx - ry END AS hr",
    ]
    return [stage1, stage2, stage3, stage4]


def q_hex_bin(spark, sf_dir):
    """Hexagonal binning of events — the H3-shaped grid (hexagons have
    uniform neighbor distance; squares don't), on a flat axial lattice.
    Same scale shape as tile_assign: pure codegen arithmetic, one
    map-side-combinable agg. The cube-rounding branch logic is decided by
    float comparisons over the identical op sequence on both engines."""
    st = _hex_stages(fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL)
    d = _t(spark, sf_dir, "events").selectExpr("event_id", *st[0])
    d = d.selectExpr("event_id", *st[1])
    d = d.selectExpr("event_id", *st[2])
    d = d.selectExpr("event_id", *st[3])
    return (d.groupBy("hq", "hr")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("event_id").alias("id_sum"))
            .selectExpr("hq", "hr", "CAST(n_events AS BIGINT) AS n_events",
                        "CAST(id_sum AS BIGINT) AS id_sum"))


def _oracle_hex() -> str:
    st = _hex_stages(fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL)
    return f"""
WITH s1 AS (SELECT event_id, {', '.join(st[0])} FROM events),
s2 AS (SELECT event_id, {', '.join(st[1])} FROM s1),
s3 AS (SELECT event_id, {', '.join(st[2])} FROM s2),
s4 AS (SELECT event_id, {', '.join(st[3])} FROM s3)
SELECT hq, hr, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM s4 GROUP BY 1, 2
"""


# --- pq_codes: product quantization of the embedding table -------------------

PQ_BLOCKS = 4        # sub-spaces over the 64-dim embedding
PQ_BLOCK_DIM = 16
PQ_K = 4             # centroids per block → 2-bit codes


def _pq_codebook() -> list:
    """Deterministic codebook: PQ_BLOCKS x PQ_K x PQ_BLOCK_DIM float64
    literals derived from the repo hash family — embedded as identical
    repr() literals in BOTH engines' SQL, so no cross-engine math is ever
    performed to obtain them."""
    from .hashing import mix
    import numpy as np
    idx = np.arange(PQ_BLOCKS * PQ_K * PQ_BLOCK_DIM, dtype=np.int64)
    vals = (mix(idx * 13 + 5).astype(np.float64) / 4294967296.0) - 0.5
    return vals.reshape(PQ_BLOCKS, PQ_K, PQ_BLOCK_DIM).tolist()


def _pq_exprs(elem: "callable") -> list[str]:
    """Per-block argmin-of-4 code expressions. ``elem(i)`` renders the
    0-based embedding element access in the target dialect (Spark arrays
    are 0-based, DuckDB lists 1-based). Each distance is an explicitly
    parenthesized left-fold of 16 squared-difference terms — a fixed op
    sequence, so both engines compute bit-identical float64 distances and
    the strict-< argmin chain picks the same code with ties resolved to
    the lowest code."""
    cb = _pq_codebook()
    exprs = []
    for b in range(PQ_BLOCKS):
        dists = []
        for c in range(PQ_K):
            terms = []
            for j in range(PQ_BLOCK_DIM):
                e = elem(b * PQ_BLOCK_DIM + j)
                lit = repr(cb[b][c][j])
                terms.append(
                    f"(CAST({e} AS DOUBLE) - {lit}) "
                    f"* (CAST({e} AS DOUBLE) - {lit})")
            acc = terms[0]
            for t in terms[1:]:
                acc = f"({acc} + {t})"
            dists.append(acc)
        d0, d1, d2, d3 = dists
        code = (f"CAST(CASE WHEN {d0} <= {d1} AND {d0} <= {d2} AND "
                f"{d0} <= {d3} THEN 0 WHEN {d1} <= {d2} AND {d1} <= {d3} "
                f"THEN 1 WHEN {d2} <= {d3} THEN 2 ELSE 3 END AS INT)")
        exprs.append(f"{code} AS c{b}")
    return exprs


def q_pq_codes(spark, sf_dir):
    """Product-quantization encoding of the embedding corpus — the
    compression step of an IVF-PQ ANN index (each 64-dim float vector
    becomes 4 2-bit codes against per-block codebooks). Map-only codegen
    arithmetic over the scan: at 100 TB this runs at I/O speed with no
    shuffle, and downstream ANN search operates on the 1-byte codes.
    Formulation note (measured, 2M vecs on local[32]): the flat argmin
    CASE — which textually repeats each 16-term distance tree in several
    branches — is the FASTEST Spark shape (522k vecs/s) because codegen's
    subexpression elimination evaluates each distance once; an
    aggregate() HOF fold of the same math is 6.8x slower (77k vecs/s,
    HOFs are interpreted, never codegen), and pre-staging the 16
    distances as columns adds a projection for no gain (441k). Numbers:
    BENCH/ANALYTICS.json. The sandbox codebook is a deterministic
    literal stand-in (the repo's IVF pattern — swap in trained centroids
    on a real corpus; ann.py has the distributed k-means)."""
    exprs = _pq_exprs(lambda i: f"embedding[{i}]")
    return (_t(spark, sf_dir, "embeddings")
            .selectExpr("vec_id", "label", *exprs))


def _oracle_pq() -> str:
    exprs = _pq_exprs(lambda i: f"embedding[{i + 1}]")
    return f"SELECT vec_id, label, {', '.join(exprs)} FROM embeddings"


# --- pagerank_fixedpoint: integer PageRank on the dedup graph ----------------

PR_ITERS = 3
PR_SCALE = 1_000_000
PR_BASE = 150_000  # (1-d) * SCALE with d = 0.85


def q_pagerank_fixedpoint(spark, sf_dir):
    """PageRank-style centrality on the near-duplicate graph, computed in
    FIXED-POINT integer arithmetic so every iteration is bit-exact on any
    engine and any aggregation order: per-edge contribution is
    FLOOR(rank/deg), the damped update is PR_BASE + FLOOR(sum*85/100.0)
    (sum*85 stays < 2**52 up to ~10^6-node graphs at this scale — the
    repo's ANSI-overflow rule). PR_ITERS unrolled iterations, each ONE
    shuffle keyed by destination; ranks materialize per iteration instead
    of growing a deep lineage. The oracle unrolls the identical recurrence
    as chained CTEs."""
    from .queries_text import q_minhash_lsh_pairs
    pairs = (q_minhash_lsh_pairs(spark, sf_dir)
             .where(F.col("n_bands") >= TRI_MIN_BANDS)
             .select("doc_a", "doc_b"))
    edges = pairs.selectExpr("doc_a AS s", "doc_b AS d").unionAll(
        pairs.selectExpr("doc_b AS s", "doc_a AS d"))
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    e = edges.join(deg, "s")
    ranks = deg.selectExpr("s AS v", f"CAST({PR_SCALE} AS BIGINT) AS rank")
    for _ in range(PR_ITERS):
        contrib = (e.join(ranks.withColumnRenamed("v", "s"), "s")
                   .selectExpr("d", "CAST(FLOOR(rank / CAST(deg AS DOUBLE)) "
                               "AS BIGINT) AS c"))
        ranks = (contrib.groupBy("d").agg(F.sum("c").alias("sc"))
                 .selectExpr("d AS v",
                             f"CAST({PR_BASE} + FLOOR(sc * 85 / 100.0) "
                             "AS BIGINT) AS rank"))
    return ranks.selectExpr("v AS doc_id", "rank")


def _oracle_pagerank() -> str:
    from .queries_text import ORACLE_LSH_PAIRS
    it = """
it{n} AS (
  SELECT e.d AS v,
         CAST({base} + FLOOR(SUM(CAST(FLOOR(r.rank / CAST(e.deg AS DOUBLE))
              AS BIGINT)) * 85 / 100.0) AS BIGINT) AS rank
  FROM e JOIN it{p} r ON r.v = e.s GROUP BY e.d)"""
    chain = ",".join(
        it.format(n=i + 1, p=i, base=PR_BASE) for i in range(PR_ITERS))
    return f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({ORACLE_LSH_PAIRS}) lp
  WHERE n_bands >= {TRI_MIN_BANDS}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs),
deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s),
e AS (SELECT edges.s, edges.d, deg.deg FROM edges JOIN deg USING (s)),
it0 AS (SELECT s AS v, CAST({PR_SCALE} AS BIGINT) AS rank FROM deg),
{chain}
SELECT v AS doc_id, rank FROM it{PR_ITERS}
"""


# --- user_entropy: behavioral-diversity score ---------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_user_entropy(spark, sf_dir):
    """Shannon entropy of each user's event-type mix — the behavioral-
    diversity feature of a user-modeling pipeline. The event-type alphabet
    is pivoted to FIXED columns first (one conditional agg), so the
    entropy is an explicitly parenthesized 5-term literal expression —
    the identical float64 op sequence on both engines (the repo's
    autocorr rule for float formulas), never a float SUM whose
    accumulation order the engine picks. Reported at ROUND(...,6): JVM
    Math.log and DuckDB's libm ln differ by 1 ulp on some inputs
    (measured here, row 8 at sf0.01) — the same reason tfidf_keywords
    ranks over the rounded score."""
    e = _t(spark, sf_dir, "events")
    aggs = [F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long").alias(f"n_{t}") for t in EVENT_TYPES]
    per = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"), *aggs)
    terms = [
        f"(CASE WHEN n_{t} > 0 THEN (CAST(n_{t} AS DOUBLE) / n) "
        f"* LN(CAST(n_{t} AS DOUBLE) / n) ELSE 0.0 END)"
        for t in EVENT_TYPES]
    acc = terms[0]
    for t in terms[1:]:
        acc = f"({acc} + {t})"
    cols = ["user_id", "CAST(n AS BIGINT) AS n_events"] + \
        [f"n_{t}" for t in EVENT_TYPES] + [f"ROUND(-({acc}), 6) AS entropy"]
    return per.selectExpr(*cols)


def _oracle_entropy() -> str:
    counts = ",\n         ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS n_{t}" for t in EVENT_TYPES)
    terms = [
        f"(CASE WHEN n_{t} > 0 THEN (CAST(n_{t} AS DOUBLE) / n) "
        f"* LN(CAST(n_{t} AS DOUBLE) / n) ELSE 0.0 END)"
        for t in EVENT_TYPES]
    acc = terms[0]
    for t in terms[1:]:
        acc = f"({acc} + {t})"
    cols = ", ".join(f"n_{t}" for t in EVENT_TYPES)
    return f"""
WITH per AS (
  SELECT user_id, COUNT(*) AS n,
         {counts}
  FROM events GROUP BY user_id)
SELECT user_id, CAST(n AS BIGINT) AS n_events, {cols},
       ROUND(-({acc}), 6) AS entropy
FROM per
"""


# --- aspect_bucketing: aspect-ratio batch packing for image training ----------

AB_BATCH = 32  # images per training batch

# ratio ladder by integer cross-multiplication — no float ratio is ever
# formed, so the bucket edges are exact in any dialect:
#   0: r <  3/4   (tall)          4w < 3h
#   1: 3/4 <= r < 1               w  <  h
#   2: 1   <= r < 4/3  (square)   3w < 4h
#   3: 4/3 <= r < 2               w  < 2h
#   4: r >= 2     (wide)
_AB_BUCKET = ("CASE WHEN 4 * w < 3 * h THEN 0 WHEN w < h THEN 1 "
              "WHEN 3 * w < 4 * h THEN 2 WHEN w < 2 * h THEN 3 ELSE 4 END")


def q_aspect_bucketing(spark, sf_dir):
    """Aspect-ratio bucketing + batch packing over the images table — the
    step a multimodal training pipeline runs so each batch holds
    same-shape images (variable aspect training a la SDXL: bucket by
    ratio, fill fixed-size batches inside each bucket). Buckets come from
    integer cross-multiplication (exact), batch ids from one
    ROW_NUMBER per bucket (deterministic: ordered by the unique image
    ordinal, so the packing is identical on any cluster size), and the
    id-weighted checksum would catch a single image in the wrong batch.
    One window shuffle on a 5-value key + one agg; at 100 TB the bucket
    key is extended with a coarse hash prefix so no single bucket
    serializes into one task (same salting pattern as salt_hot_cells)."""
    m = fixtures.images_meta_sql("id")
    img = spark.range(0, N_IMAGES_ORACLE).selectExpr(
        "id AS img_num", f"{m['w']} AS w", f"{m['h']} AS h")
    b = img.selectExpr("img_num", "w", "h",
                       f"CAST({_AB_BUCKET} AS INT) AS bucket")
    rn = b.selectExpr(
        "img_num", "bucket",
        "ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY img_num) - 1 "
        "AS rn")
    return (rn.selectExpr(
        "img_num", "bucket",
        f"CAST(FLOOR(rn / {AB_BATCH}) AS BIGINT) AS batch")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_images"),
             F.expr("MAX(batch) + 1").alias("n_batches"),
             F.expr(f"CAST(FLOOR(COUNT(*) / {AB_BATCH}) AS BIGINT)")
             .alias("n_full_batches"),
             F.expr(f"COUNT(*) % {AB_BATCH}").alias("remainder"),
             F.expr("SUM(img_num * (1 + batch % 97))").alias("checksum"))
        .selectExpr("bucket", "CAST(n_images AS BIGINT) AS n_images",
                    "CAST(n_batches AS BIGINT) AS n_batches",
                    "n_full_batches",
                    "CAST(remainder AS BIGINT) AS remainder",
                    "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_aspect() -> str:
    m = fixtures.images_meta_sql("i")
    return f"""
WITH img AS (
  SELECT i AS img_num, {m['w']} AS w, {m['h']} AS h
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_IMAGES_ORACLE - 1})) AS i) t),
b AS (SELECT img_num, CAST({_AB_BUCKET} AS INT) AS bucket FROM img),
rn AS (SELECT img_num, bucket,
              ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY img_num) - 1
              AS rn FROM b),
p AS (SELECT img_num, bucket,
             CAST(FLOOR(rn / {AB_BATCH}) AS BIGINT) AS batch FROM rn)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(MAX(batch) + 1 AS BIGINT) AS n_batches,
       CAST(FLOOR(COUNT(*) / {AB_BATCH}) AS BIGINT) AS n_full_batches,
       CAST(COUNT(*) % {AB_BATCH} AS BIGINT) AS remainder,
       CAST(SUM(img_num * (1 + batch % 97)) AS BIGINT) AS checksum
FROM p GROUP BY 1
"""


# --- staypoint_detect: trajectory stay-point extraction ------------------------

SP_LEVEL = 4            # 16x16 grid — coarse enough for real dwell runs
SP_RING = 1             # Chebyshev cell radius that still counts as "staying"
SP_MIN_DWELL_US = 3_600_000_000  # 1 hour


def q_staypoint_detect(spark, sf_dir):
    """Stay-point detection over per-user event trajectories — the
    mobility-mining primitive (home/work/POI discovery): a stay is a
    maximal run of consecutive pings where every hop stays within a
    Chebyshev cell ring, kept if it spans >= 1 h. Classic
    gaps-and-islands: one lag window marks the run breaks, a running sum
    numbers the segments, and everything is integer (cell coords, µs
    dwell) so the hash is exact. Two window passes + two aggs all keyed
    by user_id — ONE shuffle at scale because the exchange is reused
    across same-key windows."""
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, SP_LEVEL)
    e = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id",
        "unix_micros(CAST(ts AS TIMESTAMP_LTZ)) AS us",
        f"{ix} AS ix", f"{iy} AS iy")
    w = "PARTITION BY user_id ORDER BY us, event_id"
    brk = e.selectExpr(
        "user_id", "us", "ix", "iy",
        f"LAG(ix) OVER ({w}) AS pix", f"LAG(iy) OVER ({w}) AS piy")
    seg = brk.selectExpr(
        "user_id", "us",
        "CASE WHEN pix IS NULL OR GREATEST(ABS(ix - pix), ABS(iy - piy)) "
        f"> {SP_RING} THEN 1 ELSE 0 END AS is_break").selectExpr(
        "user_id", "us",
        f"SUM(is_break) OVER ({w.replace('event_id', 'us')} "
        "ROWS UNBOUNDED PRECEDING) AS seg")
    stays = (seg.groupBy("user_id", "seg")
             .agg(F.count(F.lit(1)).alias("n_pts"),
                  F.expr("MAX(us) - MIN(us)").alias("dwell_us"),
                  F.min("us").alias("start_us"))
             .where(f"n_pts >= 2 AND dwell_us >= {SP_MIN_DWELL_US}"))
    return (stays.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_stays"),
                 F.sum("dwell_us").alias("sum_dwell_us"),
                 F.sum("n_pts").alias("sum_pts"),
                 F.expr("SUM(start_us % 1000003)").alias("checksum"))
            .selectExpr("user_id", "CAST(n_stays AS BIGINT) AS n_stays",
                        "CAST(sum_dwell_us AS BIGINT) AS sum_dwell_us",
                        "CAST(sum_pts AS BIGINT) AS sum_pts",
                        "CAST(checksum AS BIGINT) AS checksum"))


def _oracle_staypoint() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, SP_LEVEL)
    return f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, {ix} AS ix, {iy} AS iy
  FROM events),
brk AS (
  SELECT user_id, us, ix, iy, LAG(ix) OVER w AS pix, LAG(iy) OVER w AS piy
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
seg AS (
  SELECT user_id, us,
         SUM(CASE WHEN pix IS NULL OR
                  GREATEST(ABS(ix - pix), ABS(iy - piy)) > {SP_RING}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY us
                 ROWS UNBOUNDED PRECEDING) AS seg
  FROM brk),
stays AS (
  SELECT user_id, seg, COUNT(*) AS n_pts, MAX(us) - MIN(us) AS dwell_us,
         MIN(us) AS start_us
  FROM seg GROUP BY 1, 2
  HAVING COUNT(*) >= 2 AND MAX(us) - MIN(us) >= {SP_MIN_DWELL_US})
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_stays,
       CAST(SUM(dwell_us) AS BIGINT) AS sum_dwell_us,
       CAST(SUM(n_pts) AS BIGINT) AS sum_pts,
       CAST(SUM(start_us % 1000003) AS BIGINT) AS checksum
FROM stays GROUP BY 1
"""


# --- mixture_weights: pretraining domain-mixture sampling plan -----------------

MIX_BUDGET = 1_000_000  # documents to sample across domains


def q_mixture_weights(spark, sf_dir):
    """Domain-mixture sampling plan over the documents corpus — the data
    recipe step of a pretraining pipeline (temperature-weighted domain
    sampling, alpha = 0.5): each source's weight is sqrt(total chars),
    the token-count proxy, so small domains are up-weighted relative to
    proportional sampling. sqrt is taken via FLOOR to an exact BIGINT
    (IEEE sqrt of an int64-sized integer is correctly rounded and can't
    straddle an integer below 2^52 — documented engine-parity rule), so
    the per-domain planned-document counts are deterministic integers on
    both engines; only the reporting weight is float, under the repo's
    round-6 rule. One agg + one broadcast-size window — scales as a
    map-side combine over any corpus."""
    d = (_t(spark, sf_dir, "documents")
         .groupBy("source")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("n_chars").alias("tot_chars")))
    s = d.selectExpr(
        "source", "n_docs", "tot_chars",
        "CAST(FLOOR(SQRT(CAST(tot_chars AS DOUBLE))) AS BIGINT) AS s")
    return (s.selectExpr(
        "source", "n_docs", "tot_chars", "s",
        "SUM(s) OVER () AS total_s")
        .selectExpr(
        "source", "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(tot_chars AS BIGINT) AS tot_chars",
        "s AS sqrt_chars",
        "ROUND(CAST(s AS DOUBLE) / total_s, 6) AS weight",
        f"CAST(FLOOR(({float(MIX_BUDGET)!r} * s) / total_s) AS BIGINT) "
        "AS planned_docs"))


def _oracle_mixture() -> str:
    return f"""
WITH d AS (
  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS tot_chars
  FROM documents GROUP BY 1),
s AS (
  SELECT source, n_docs, tot_chars,
         CAST(FLOOR(SQRT(CAST(tot_chars AS DOUBLE))) AS BIGINT) AS s
  FROM d),
t AS (SELECT source, n_docs, tot_chars, s, SUM(s) OVER () AS total_s FROM s)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(tot_chars AS BIGINT) AS tot_chars,
       s AS sqrt_chars,
       ROUND(CAST(s AS DOUBLE) / total_s, 6) AS weight,
       CAST(FLOOR(({float(MIX_BUDGET)!r} * s) / total_s) AS BIGINT)
         AS planned_docs
FROM t
"""


QUERIES: dict = {
    "chunk_documents": (q_chunk_documents, ORACLE_CHUNKS),
    "pareto_frontier": (q_pareto_frontier, ORACLE_PARETO),
    "gapfill_locf": (q_gapfill_locf, ORACLE_GAPFILL),
    "cell_morphology": (q_cell_morphology, _oracle_morphology()),
    "map_algebra_cells": (q_map_algebra_cells, _oracle_map_algebra()),
    "geohash_encode": (q_geohash_encode, _oracle_geohash()),
    "decayed_cell_scores": (q_decayed_cell_scores, _oracle_decayed()),
    "bearing_histogram": (q_bearing_histogram, _oracle_bearing()),
    "scd2_intervals": (q_scd2_intervals, ORACLE_SCD2),
    "triangle_count": (q_triangle_count, _oracle_triangles()),
    "markov_transitions": (q_markov_transitions, ORACLE_MARKOV),
    "rfm_segments": (q_rfm_segments, ORACLE_RFM),
    "benford_first_digit": (q_benford_first_digit, ORACLE_BENFORD),
    "seasonality_profile": (q_seasonality_profile, ORACLE_SEASONALITY),
    "inventory_balance": (q_inventory_balance, ORACLE_INVENTORY),
    "hex_bin": (q_hex_bin, _oracle_hex()),
    "hilbert_assign": (q_hilbert_assign, _oracle_hilbert()),
    "pq_codes": (q_pq_codes, _oracle_pq()),
    "pagerank_fixedpoint": (q_pagerank_fixedpoint, _oracle_pagerank()),
    "user_entropy": (q_user_entropy, _oracle_entropy()),
    "aspect_bucketing": (q_aspect_bucketing, _oracle_aspect()),
    "staypoint_detect": (q_staypoint_detect, _oracle_staypoint()),
    "mixture_weights": (q_mixture_weights, _oracle_mixture()),
}


# --- merkle_diff: anti-entropy digest tree between two replicas ----------------
#
# The replication-repair primitive a 100 TB lakehouse runs to find WHERE
# two copies of a table diverge without shipping either: per-row content
# digests (md5 — built into both engines — xor-folded with the row key),
# xor-aggregated into 4096 leaf buckets, then a 16-ary digest tree whose
# parent is the XOR of its children (so every level is ONE groupBy over
# the leaves — xor associativity means no level reads the rows again).
# Replica B is replica A with every (doc_id % MD_MUT)-th document mutated
# in-query; the report gives, per tree level, how many nodes differ and
# how many documents a level-granular repair would re-ship — the
# anti-entropy amplification curve. Scale shape: one scan per replica,
# one shuffle into 4096 buckets, O(1) rows after that.

MD_LEAVES = 4096
MD_MUT = 1009           # mutate every 1009th document in replica B
MD_LEVELS = (0, 4, 8, 12)   # leaf, 256-, 16-, 1-node levels (shift bits)


def _md_digest(text_expr: str, engine: str) -> str:
    """64-bit content digest from md5 (shared by construction: both
    engines md5 the same bytes; only the hex->int syntax differs)."""
    hx = f"substring(md5({text_expr}), 1, 15)"
    if engine == "spark":
        return f"CAST(conv({hx}, 16, 10) AS BIGINT)"
    return f"CAST(concat('0x', {hx}) AS BIGINT)"


def q_merkle_diff(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    mut = (f"CASE WHEN doc_id % {MD_MUT} = 0 THEN concat('X', text) "
           "ELSE text END")
    from .hashing import mix_sql
    b = f"({mix_sql('doc_id')}) % {MD_LEAVES}"
    leaves = (d.selectExpr(
        f"{b} AS bucket",
        f"{_md_digest('text', 'spark')} ^ ({mix_sql('doc_id * 2 + 1')})"
        " AS ha",
        f"{_md_digest(mut, 'spark')} ^ ({mix_sql('doc_id * 2 + 1')})"
        " AS hb")
        .groupBy("bucket")
        .agg(F.expr("bit_xor(ha)").alias("da"),
             F.expr("bit_xor(hb)").alias("db"),
             F.count(F.lit(1)).alias("n_docs")))
    out = None
    for lvl, shift in enumerate(MD_LEVELS):
        nodes = (leaves.selectExpr(f"bucket DIV {1 << shift} AS node",
                                   "da", "db", "n_docs")
                 .groupBy("node")
                 .agg(F.expr("bit_xor(da)").alias("da"),
                      F.expr("bit_xor(db)").alias("db"),
                      F.sum("n_docs").alias("n_docs")))
        rec = (nodes.selectExpr(
            f"CAST({lvl} AS INT) AS level",
            "CAST(da <> db AS INT) AS differs", "n_docs")
            .groupBy("level")
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.sum("differs").alias("n_diff"),
                 F.sum(F.expr("CASE WHEN differs = 1 THEN n_docs "
                              "ELSE 0 END")).alias("repair_docs"))
            .selectExpr("level", "CAST(n_nodes AS BIGINT) AS n_nodes",
                        "CAST(n_diff AS BIGINT) AS n_diff",
                        "CAST(repair_docs AS BIGINT) AS repair_docs"))
        out = rec if out is None else out.unionByName(rec)
    return out


def _oracle_merkle() -> str:
    from .hashing import mix_sql
    b = f"({mix_sql('doc_id')}) % {MD_LEAVES}"
    mut = (f"CASE WHEN doc_id % {MD_MUT} = 0 THEN concat('X', text) "
           "ELSE text END")
    levels = "\nUNION ALL\n".join(f"""
SELECT CAST({lvl} AS INT) AS level, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(CASE WHEN da <> db THEN 1 ELSE 0 END) AS BIGINT) AS n_diff,
       CAST(SUM(CASE WHEN da <> db THEN n_docs ELSE 0 END) AS BIGINT)
         AS repair_docs
FROM (SELECT bucket // {1 << shift} AS node, bit_xor(da) AS da,
             bit_xor(db) AS db, SUM(n_docs) AS n_docs
      FROM leaves GROUP BY 1) l{lvl}"""
        for lvl, shift in enumerate(MD_LEVELS))
    return f"""
WITH leaves AS MATERIALIZED (
  SELECT {b} AS bucket,
         bit_xor(xor({_md_digest('text', 'duckdb')},
                     ({mix_sql('doc_id * 2 + 1')}))) AS da,
         bit_xor(xor({_md_digest(mut, 'duckdb')},
                     ({mix_sql('doc_id * 2 + 1')}))) AS db,
         COUNT(*) AS n_docs
  FROM documents GROUP BY 1)
{levels}
"""


# --- merge_upsert: lakehouse MERGE INTO semantics -------------------------------
#
# The upsert every CDC/lakehouse pipeline runs: base (80% of orders) and a
# delta batch (50%, price-adjusted + restated status) merge by key — rows
# matched in both are UPDATED to delta values, delta-only rows are
# INSERTED, base-only rows pass through UNTOUCHED. One full-outer join on
# the key (the sort-merge shape AQE handles at any skew), classification
# by null-side, and exact cent-quantized value checksums per action class
# prove not just the counts but the post-merge CONTENT. At 100 TB the
# delta is typically <<1% — the same plan broadcast-joins automatically.

MU_PRICE_BUMP = 100_000   # +1000.00 in cents, the delta restatement


def q_merge_upsert(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    base = o.where("o_orderkey % 10 < 8").selectExpr(
        "o_orderkey AS bk", "CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)"
        " AS bpq", "o_orderstatus AS bst")
    delta = o.where("o_orderkey % 10 >= 5").selectExpr(
        "o_orderkey AS dk",
        f"CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) + {MU_PRICE_BUMP}"
        " AS dpq", "'U' AS dst")
    m = base.join(delta, base["bk"] == delta["dk"], "full_outer")
    return (m.selectExpr(
        "CASE WHEN bk IS NULL THEN 'insert' "
        "WHEN dk IS NULL THEN 'keep' ELSE 'update' END AS action",
        "COALESCE(dk, bk) AS key",
        "COALESCE(dpq, bpq) AS pq",
        "COALESCE(dst, bst) AS st")
        .groupBy("action")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum("pq").alias("sum_price_q"),
             F.sum("key").alias("key_checksum"),
             F.sum(F.expr("CASE WHEN st = 'U' THEN 1 ELSE 0 END"))
             .alias("n_restated"))
        .selectExpr("action", "CAST(n_rows AS BIGINT) AS n_rows",
                    "CAST(sum_price_q AS BIGINT) AS sum_price_q",
                    "CAST(key_checksum AS BIGINT) AS key_checksum",
                    "CAST(n_restated AS BIGINT) AS n_restated"))


def _oracle_merge_upsert() -> str:
    return f"""
WITH base AS (
  SELECT o_orderkey AS bk,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS bpq,
         o_orderstatus AS bst
  FROM orders WHERE o_orderkey % 10 < 8),
delta AS (
  SELECT o_orderkey AS dk,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) + {MU_PRICE_BUMP}
           AS dpq,
         'U' AS dst
  FROM orders WHERE o_orderkey % 10 >= 5),
m AS (
  SELECT CASE WHEN bk IS NULL THEN 'insert'
              WHEN dk IS NULL THEN 'keep' ELSE 'update' END AS action,
         COALESCE(dk, bk) AS key, COALESCE(dpq, bpq) AS pq,
         COALESCE(dst, bst) AS st
  FROM base FULL OUTER JOIN delta ON delta.dk = base.bk)
SELECT action, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(pq) AS BIGINT) AS sum_price_q,
       CAST(SUM(key) AS BIGINT) AS key_checksum,
       CAST(SUM(CASE WHEN st = 'U' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_restated
FROM m GROUP BY action
"""


QUERIES.update({
    "merkle_diff": (q_merkle_diff, _oracle_merkle()),
    "merge_upsert": (q_merge_upsert, _oracle_merge_upsert()),
})


# --- compaction_plan: sorted-cumsum bin packing of small files -----------------
#
# The table-maintenance planner every lakehouse runs nightly: pack each
# partition's small files into ~TARGET-byte outputs. Greedy sequential
# packing is normally a sequential scan; expressed as cumulative-bytes-
# before DIV TARGET it becomes ONE partition-keyed window — every file's
# output bucket is decided independently from the prefix sum, the shape
# that plans 10^9 files without a driver loop. "Files" are synthesized
# from documents (one file per 50-doc ingest batch per source), so the
# plan runs on real size skew.

CP_BATCH = 50            # docs per simulated ingest file
CP_TARGET = 4096         # output file target bytes
CP_OVERHEAD = 64         # per-file format overhead


def q_compaction_plan(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    files = (d.selectExpr("source", f"doc_id DIV {CP_BATCH} AS file_id",
                          "n_chars")
             .groupBy("source", "file_id")
             .agg((F.sum("n_chars") + CP_OVERHEAD).alias("bytes")))
    packed = files.selectExpr(
        "source", "file_id", "bytes",
        "COALESCE(SUM(bytes) OVER (PARTITION BY source ORDER BY file_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        f"DIV {CP_TARGET} AS out_file")
    return (packed.groupBy("source", "out_file")
            .agg(F.count(F.lit(1)).alias("n_input_files"),
                 F.sum("bytes").alias("bytes"),
                 F.min("file_id").alias("first_file"),
                 F.max("file_id").alias("last_file"))
            .selectExpr("source", "CAST(out_file AS BIGINT) AS out_file",
                        "CAST(n_input_files AS BIGINT) AS n_input_files",
                        "CAST(bytes AS BIGINT) AS bytes",
                        "CAST(first_file AS BIGINT) AS first_file",
                        "CAST(last_file AS BIGINT) AS last_file"))


def _oracle_compaction() -> str:
    return f"""
WITH files AS (
  SELECT source, doc_id // {CP_BATCH} AS file_id,
         SUM(n_chars) + {CP_OVERHEAD} AS bytes
  FROM documents GROUP BY 1, 2),
packed AS (
  SELECT source, file_id, bytes,
         COALESCE(SUM(bytes) OVER (PARTITION BY source ORDER BY file_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           // {CP_TARGET} AS out_file
  FROM files)
SELECT source, CAST(out_file AS BIGINT) AS out_file,
       CAST(COUNT(*) AS BIGINT) AS n_input_files,
       CAST(SUM(bytes) AS BIGINT) AS bytes,
       CAST(MIN(file_id) AS BIGINT) AS first_file,
       CAST(MAX(file_id) AS BIGINT) AS last_file
FROM packed GROUP BY 1, 2
"""


# --- zone_map_pruning: min/max file skipping, ingest vs clustered layout -------
#
# The data-skipping readout that justifies clustering: per-file min/max
# zone maps on o_orderdate under TWO layouts — ingestion order (file =
# key DIV size, dates uncorrelated -> almost nothing prunes) and
# date-clustered (file = date-rank DIV size -> per-year predicates prune
# to ~1/7 of files). Reports, per query year, files scanned under each
# layout and the exact matching rows — the I/O amplification a 100 TB
# scan pays for NOT clustering. Zone maps are one groupBy per layout;
# the per-year readout joins 7 predicate rows against file stats.

ZM_FILE = 512            # rows per simulated file


def q_zone_map_pruning(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey", "CAST(o_orderdate AS DATE) AS d",
        "YEAR(o_orderdate) AS yr")
    f_ing = (o.selectExpr(f"o_orderkey DIV {ZM_FILE} AS fid", "d", "yr")
             .groupBy("fid").agg(F.min("d").alias("lo"),
                                 F.max("d").alias("hi")))
    f_srt = (o.selectExpr(
        f"(ROW_NUMBER() OVER (ORDER BY d, o_orderkey) - 1) DIV {ZM_FILE}"
        " AS fid", "d")
        .groupBy("fid").agg(F.min("d").alias("lo"), F.max("d").alias("hi")))
    yrs = o.groupBy("yr").agg(F.count(F.lit(1)).alias("n_rows"))
    scan_i = (yrs.join(f_ing, F.expr(
        "YEAR(lo) <= yr AND YEAR(hi) >= yr"))
        .groupBy("yr", "n_rows").agg(F.count(F.lit(1)).alias("scan_ingest")))
    scan_s = (yrs.join(f_srt, F.expr(
        "YEAR(lo) <= yr AND YEAR(hi) >= yr"))
        .groupBy("yr").agg(F.count(F.lit(1)).alias("scan_sorted")))
    nf = f_ing.agg(F.count(F.lit(1)).alias("n_files"))
    return (scan_i.join(scan_s, "yr").crossJoin(F.broadcast(nf))
            .selectExpr("CAST(yr AS INT) AS yr",
                        "CAST(n_rows AS BIGINT) AS n_rows",
                        "CAST(n_files AS BIGINT) AS n_files",
                        "CAST(scan_ingest AS BIGINT) AS scan_ingest",
                        "CAST(scan_sorted AS BIGINT) AS scan_sorted"))


def _oracle_zone_map() -> str:
    return f"""
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
         YEAR(o_orderdate) AS yr
  FROM orders),
f_ing AS (
  SELECT o_orderkey // {ZM_FILE} AS fid, MIN(d) AS lo, MAX(d) AS hi
  FROM o GROUP BY 1),
f_srt AS (
  SELECT fid, MIN(d) AS lo, MAX(d) AS hi
  FROM (SELECT (ROW_NUMBER() OVER (ORDER BY d, o_orderkey) - 1)
                 // {ZM_FILE} AS fid, d FROM o) t
  GROUP BY 1),
yrs AS (SELECT yr, COUNT(*) AS n_rows FROM o GROUP BY 1),
si AS (
  SELECT yr, COUNT(*) AS scan_ingest FROM yrs, f_ing
  WHERE YEAR(lo) <= yr AND YEAR(hi) >= yr GROUP BY 1),
ss AS (
  SELECT yr, COUNT(*) AS scan_sorted FROM yrs, f_srt
  WHERE YEAR(lo) <= yr AND YEAR(hi) >= yr GROUP BY 1)
SELECT CAST(yrs.yr AS INT) AS yr, CAST(n_rows AS BIGINT) AS n_rows,
       CAST((SELECT COUNT(*) FROM f_ing) AS BIGINT) AS n_files,
       CAST(scan_ingest AS BIGINT) AS scan_ingest,
       CAST(scan_sorted AS BIGINT) AS scan_sorted
FROM yrs JOIN si ON si.yr = yrs.yr JOIN ss ON ss.yr = yrs.yr
"""


# --- ivm_delta_agg: incremental view maintenance vs full recompute -------------
#
# The streaming-materialized-view law: applying a signed delta batch
# (inserts +1, deletes -1) to a maintained aggregate must equal the
# full recompute on the final state. The ENGINE runs the incremental
# program — base aggregate, delta aggregate, one full-outer merge,
# zero-count rows retired; the ORACLE recomputes from scratch. Two
# genuinely different plans, one answer. At 100 TB the delta path
# touches only the batch + the k-row aggregate — the whole point of IVM.

IVM_INS_MOD = 20         # keys % 20 == 0 arrive as the insert batch
IVM_DEL_MOD = 7          # existing keys % 7 == 0 are deleted


def q_ivm_delta_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey AS k", "o_orderpriority AS pri",
        "CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS pq")
    base = o.where(f"k % {IVM_INS_MOD} != 0")
    base_agg = base.groupBy("pri").agg(
        F.count(F.lit(1)).alias("bn"), F.sum("pq").alias("bs"))
    ins = o.where(f"k % {IVM_INS_MOD} = 0").selectExpr(
        "pri", "CAST(1 AS BIGINT) AS m", "pq")
    dele = base.where(f"k % {IVM_DEL_MOD} = 0").selectExpr(
        "pri", "CAST(-1 AS BIGINT) AS m", "pq")
    delta = (ins.unionByName(dele)
             .groupBy(F.col("pri").alias("dpri"))
             .agg(F.sum("m").alias("dn"), F.sum(F.expr("m * pq"))
                  .alias("ds")))
    merged = base_agg.join(delta, base_agg["pri"] == delta["dpri"],
                           "full_outer")
    return (merged.selectExpr(
        "COALESCE(pri, dpri) AS pri",
        "COALESCE(bn, 0) + COALESCE(dn, 0) AS n_rows",
        "COALESCE(bs, 0) + COALESCE(ds, 0) AS sum_price_q")
        .where("n_rows > 0")
        .selectExpr("pri", "CAST(n_rows AS BIGINT) AS n_rows",
                    "CAST(sum_price_q AS BIGINT) AS sum_price_q"))


def _oracle_ivm() -> str:
    return f"""
WITH final_state AS (
  SELECT o_orderpriority AS pri,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS pq
  FROM orders
  WHERE o_orderkey % {IVM_INS_MOD} = 0
     OR o_orderkey % {IVM_DEL_MOD} != 0)
SELECT pri, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(pq) AS BIGINT) AS sum_price_q
FROM final_state GROUP BY pri
"""


QUERIES.update({
    "compaction_plan": (q_compaction_plan, _oracle_compaction()),
    "zone_map_pruning": (q_zone_map_pruning, _oracle_zone_map()),
    "ivm_delta_agg": (q_ivm_delta_agg, _oracle_ivm()),
})


# --- exact_order_statistics: distributed exact k-th element ------------------------
#
# Exact order statistics WITHOUT a global sort and WITHOUT per-group
# sorted buffers (Spark's built-in `percentile` materializes one — the
# memory wall at 10^12 rows): iterative histogram narrowing.  Each round
# is ONE map-side-combinable 256-bucket count over the candidate range;
# the driver (holding just those 256 counts) finds the bucket containing
# the k-th value, subtracts the mass below it, and recurses into it.  The
# candidate range shrinks 256x per round, so a 64-bit domain needs at
# most 8 rounds and the cents-domain here needs 3 + a final exact pass
# over <=256 distinct values.  Driver state is O(256) per round — the
# kmeans_rounds / logistic_gd driver-loop shape — and every count is an
# exact integer, so the result is bit-exact at any partitioning.
#
# The oracle recomputes both order statistics the definitional way
# (ROW_NUMBER over the sorted column), which on DuckDB's single node is
# affordable — precisely the contrast the operator exists to remove.

OS_BUCKETS = 256


def _os_kth(df, col: str, k: int, lo: int, hi: int) -> int:
    """Exact k-th smallest (1-based) of integer column ``col`` within
    [lo, hi] via histogram narrowing; ≤ 8 rounds, O(256) driver state."""
    while hi - lo + 1 > OS_BUCKETS:
        width = hi - lo + 1
        b = (F.col(col) - F.lit(lo)) * OS_BUCKETS / F.lit(width)
        hist = dict(df.where(f"{col} BETWEEN {lo} AND {hi}")
                    .groupBy(b.cast("long").alias("b")).count()
                    .collect())
        acc = 0
        for i in range(OS_BUCKETS):
            c = hist.get(i, 0)
            if acc + c >= k:
                k -= acc
                # bucket i holds exactly v - lo in
                # [ceil(i*w/B), ceil((i+1)*w/B) - 1]: ceil on BOTH ends —
                # floor would leak bucket i-1 values into the narrowed
                # range after k was already reduced by their count
                lo2 = lo + (i * width + OS_BUCKETS - 1) // OS_BUCKETS
                hi2 = lo + ((i + 1) * width + OS_BUCKETS - 1) \
                    // OS_BUCKETS - 1
                lo, hi = lo2, hi2
                break
            acc += c
        else:                      # k beyond range mass — contract breach
            raise ValueError("k exceeds rows in range")
    vals = (df.where(f"{col} BETWEEN {lo} AND {hi}")
            .groupBy(col).count().orderBy(col).collect())
    acc = 0
    for r in vals:
        acc += r["count"]
        if acc >= k:
            return int(r[col])
    raise ValueError("k exceeds rows in range")


def q_exact_order_statistics(spark, sf_dir):
    df = (_t(spark, sf_dir, "orders")
          .selectExpr("CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)"
                      " AS cents"))
    df = df.persist()
    row = df.agg(F.count(F.lit(1)).alias("n"), F.min("cents").alias("lo"),
                 F.max("cents").alias("hi")).collect()[0]
    n, lo, hi = int(row["n"]), int(row["lo"]), int(row["hi"])
    k50 = (n + 1) // 2
    k90 = (9 * n + 9) // 10      # ceil(0.9 * n) for integer n
    v50 = _os_kth(df, "cents", k50, lo, hi)
    v90 = _os_kth(df, "cents", k90, lo, hi)
    df.unpersist()
    return spark.range(1).selectExpr(
        f"CAST({n} AS BIGINT) AS n",
        f"CAST({k50} AS BIGINT) AS k50", f"CAST({v50} AS BIGINT) AS v50",
        f"CAST({k90} AS BIGINT) AS k90", f"CAST({v90} AS BIGINT) AS v90")


ORACLE_ORDER_STATS = """
WITH t AS (
  SELECT CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders),
c AS (SELECT COUNT(*) AS n FROM t),
r AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM t)
SELECT CAST(c.n AS BIGINT) AS n,
       CAST((c.n + 1) // 2 AS BIGINT) AS k50,
       CAST((SELECT cents FROM r, c WHERE rn = (c.n + 1) // 2) AS BIGINT)
         AS v50,
       CAST((9 * c.n + 9) // 10 AS BIGINT) AS k90,
       CAST((SELECT cents FROM r, c WHERE rn = (9 * c.n + 9) // 10)
            AS BIGINT) AS v90
FROM c
"""


QUERIES.update({
    "exact_order_statistics": (q_exact_order_statistics,
                               ORACLE_ORDER_STATS),
})


# --- polyline_encode: Google Encoded Polyline interop -------------------------
#
# The third member of the string-interop family (geohash_encode,
# quadkey_encode): per-user trajectories rendered in the Google Maps
# Encoded Polyline format (1e-5-degree ints, per-coordinate deltas,
# zigzag sign fold, 5-bit chunks with a continuation flag, +63 ASCII).
# The varint loop is unrolled to a FIXED 6 chunks (|coord|*1e5*2 <
# 2^26 < 32^6) as pure DIV/% arithmetic — no dialect-divergent shift
# operators (the feistel ^-is-POWER lesson) — and the per-user string
# assembles order-deterministically (Spark: array_sort over (seq, s)
# structs; DuckDB: STRING_AGG ORDER BY).  Plan: ONE user-keyed shuffle
# (rank + lag windows share it); everything else is map-side string
# algebra.  Verified against the published Google worked example in
# pytest (via the sequential python twin).

POLY_USER_MOD = 5
POLY_PTS = 4


def _poly_enc_sql(z: str, div: str) -> str:
    """Encoded-polyline chunk string for non-negative zigzag value z —
    fixed 6-chunk unroll, dialect-parameterized integer division."""
    terms = []
    for i in range(6):
        lo = 32 ** i
        hi = 32 ** (i + 1)
        gate = f"({z}) >= {lo}" if i else "TRUE"
        terms.append(
            f"CASE WHEN {gate} THEN CHR(CAST((({z}) {div} {lo}) % 32 + "
            f"CASE WHEN ({z}) >= {hi} THEN 32 ELSE 0 END + 63 AS INT)) "
            f"ELSE '' END")
    return "CONCAT(" + ", ".join(terms) + ")"


def _poly_core_sql(div: str) -> str:
    zz = ("CASE WHEN {d} < 0 THEN -({d} * 2) - 1 ELSE {d} * 2 END")
    return f"""
pts AS (
  SELECT user_id, ts, event_id,
         CAST(FLOOR(({fixtures.EVENT_LAT_SQL}) * CAST(100000 AS DOUBLE)
                    + 0.5) AS BIGINT) AS vlat,
         CAST(FLOOR(({fixtures.EVENT_LON_SQL}) * CAST(100000 AS DOUBLE)
                    + 0.5) AS BIGINT) AS vlon
  FROM events WHERE user_id % {POLY_USER_MOD} = 3),
ranked AS (
  SELECT user_id, vlat, vlon,
         ROW_NUMBER() OVER w AS seq,
         COALESCE(LAG(vlat) OVER w, 0) AS plat,
         COALESCE(LAG(vlon) OVER w, 0) AS plon
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
deltas AS (
  SELECT user_id, seq, vlat - plat AS dlat, vlon - plon AS dlon
  FROM ranked WHERE seq <= {POLY_PTS}),
zigzag AS (
  SELECT user_id, seq,
         {zz.format(d='dlat')} AS zlat,
         {zz.format(d='dlon')} AS zlon
  FROM deltas),
pieces AS (
  SELECT user_id, seq,
         CONCAT({_poly_enc_sql('zlat', div)},
                {_poly_enc_sql('zlon', div)}) AS piece
  FROM zigzag)"""


def q_polyline_encode(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return spark.sql(f"""
WITH {_poly_core_sql("DIV")}
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pts,
       array_join(transform(array_sort(collect_list(
           struct(seq, piece))), x -> x.piece), '') AS polyline,
       CAST(SUM(length(piece)) AS BIGINT) AS n_chars
FROM pieces GROUP BY user_id
""")


ORACLE_POLYLINE = f"""
WITH {_poly_core_sql("//")}
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pts,
       STRING_AGG(piece, '' ORDER BY seq) AS polyline,
       CAST(SUM(LENGTH(piece)) AS BIGINT) AS n_chars
FROM pieces GROUP BY user_id
"""


QUERIES.update({
    "polyline_encode": (q_polyline_encode, ORACLE_POLYLINE),
})
