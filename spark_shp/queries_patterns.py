"""Seventh query batch — spatio-temporal pattern mining, weighted graphs,
and differential privacy (all oracle-gated exact; none is in the query
registry, which holds only the paper's spatial path):

  * convoy_pairs     — co-movement mining (flock/convoy detection): user
                       pairs co-located in the same coarse cell for >= 2
                       CONSECUTIVE 6-hour windows (B5/B7 spatio-temporal
                       family; region_covisitation counts co-visits, this
                       adds the temporal-consecutiveness dimension that
                       distinguishes a convoy from a coincidence).
  * sssp_roads       — weighted single-source shortest path (<= 8 hops)
                       via Bellman-Ford relaxation rounds over a
                       deterministic road graph sized from the data
                       (graph family; bfs_distance_cells is the
                       UNWEIGHTED analog — this is the min-plus semiring).
  * dp_noisy_counts  — differentially-private release of per-(type, day)
                       event counts under the DISCRETE Laplace (two-sided
                       geometric) mechanism with alpha = 1/2 (eps = ln 2):
                       noise = G1 - G2 with G geometric, derived from the
                       repo hash's uniform bits by pure integer threshold
                       comparisons — bit-exact on any engine, no ln()
                       cross-engine ulp risk (the tfidf/user_entropy
                       lesson, solved structurally this time).

Shared constraint (repo rule): exact cross-engine value hashes require
integer values everywhere, or at most one final float division. All three
operators here are 100% integer-valued.

Reference parity note: upstream shapefile-js has no analytics layer; these
extend the engine surface the brief's training-data-pipeline mandate asks
for (SURVEY.md §2 LLM-pipeline + spatial-analytics families).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import cells, fixtures
from .hashing import mix_sql

U32 = 4294967296  # 2**32


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- convoy_pairs: co-movement (flock) mining ---------------------------------
#
# Window = 6-hour bucket of event time (exact integer: epoch-us floor-div,
# the ohlc_hourly precedent — engine calendar conventions never enter).
# Cell = repo Morton cell at level 1 (4 cells) so co-location is common
# enough to produce runs at sf0.01 while the sampled-user filter
# (user_id % 10 = 0) keeps the pair fan-out quadratic only in the SAMPLED
# per-(cell,window) cohort. Scale shape: presence is DISTINCT (user, win,
# cell) — bounded by users x windows x 4, NOT by events — and the pair
# join is keyed by (cell, win), the standard co-location equi-join; at
# 100 TB the sample-rate knob bounds cohort size and the join never goes
# all-pairs across cells or windows.

CONVOY_WIN_US = 6 * 3600 * 1000000  # 6-hour windows, in microseconds
CONVOY_LVL = 1                      # 2x2 grid
CONVOY_SAMPLE_MOD = 10              # user_id % 10 == 0 cohort
CONVOY_MIN_RUN = 2                  # >= 2 consecutive co-located windows


def q_convoy_pairs(spark, sf_dir):
    """Convoy detection: sampled user pairs co-located (same level-1 cell)
    in >= CONVOY_MIN_RUN consecutive 6-hour windows. Output is one row per
    qualifying pair with the run statistics — all int64, exact."""
    ev = _t(spark, sf_dir, "events")
    cell = cells.cell_sql(fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL,
                          CONVOY_LVL)
    presence = (ev.where(F.col("user_id") % CONVOY_SAMPLE_MOD == 0)
                .selectExpr(
                    "user_id",
                    f"CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) / {float(CONVOY_WIN_US)!r})"
                    " AS BIGINT) AS win",
                    f"{cell} AS cell")
                .distinct())
    a = presence.selectExpr("user_id AS ua", "win", "cell")
    b = presence.selectExpr("user_id AS ub", "win", "cell")
    pair_wins = (a.join(b, ["cell", "win"])
                 .where(F.col("ua") < F.col("ub"))
                 .select("ua", "ub", "win")
                 .distinct())
    runs = pair_wins.selectExpr(
        "ua", "ub", "win",
        "win - ROW_NUMBER() OVER (PARTITION BY ua, ub ORDER BY win) AS grp")
    island = (runs.groupBy("ua", "ub", "grp")
              .agg(F.count(F.lit(1)).alias("run_len"),
                   F.min("win").alias("run_start")))
    return (island.groupBy("ua", "ub")
            .agg(F.max("run_len").alias("max_run"),
                 F.sum("run_len").alias("n_windows"),
                 F.min("run_start").alias("first_win"))
            .where(F.col("max_run") >= CONVOY_MIN_RUN)
            .selectExpr("ua AS user_a", "ub AS user_b",
                        "CAST(max_run AS BIGINT) AS max_run",
                        "CAST(n_windows AS BIGINT) AS n_windows",
                        "CAST(first_win AS BIGINT) AS first_win"))


def _oracle_convoy() -> str:
    cell = cells.cell_sql(fixtures.EVENT_LON_SQL, fixtures.EVENT_LAT_SQL,
                          CONVOY_LVL)
    return f"""
WITH presence AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(epoch_us(ts) / {float(CONVOY_WIN_US)!r}) AS BIGINT)
           AS win,
         {cell} AS cell
  FROM events WHERE user_id % {CONVOY_SAMPLE_MOD} = 0),
pair_wins AS (
  SELECT DISTINCT a.user_id AS ua, b.user_id AS ub, a.win
  FROM presence a JOIN presence b
    ON a.cell = b.cell AND a.win = b.win AND a.user_id < b.user_id),
runs AS (
  SELECT ua, ub, win,
         win - ROW_NUMBER() OVER (PARTITION BY ua, ub ORDER BY win) AS grp
  FROM pair_wins),
island AS (
  SELECT ua, ub, grp, COUNT(*) AS run_len, MIN(win) AS run_start
  FROM runs GROUP BY ua, ub, grp)
SELECT ua AS user_a, ub AS user_b,
       CAST(MAX(run_len) AS BIGINT) AS max_run,
       CAST(SUM(run_len) AS BIGINT) AS n_windows,
       CAST(MIN(run_start) AS BIGINT) AS first_win
FROM island GROUP BY ua, ub
HAVING MAX(run_len) >= {CONVOY_MIN_RUN}
"""


# --- sssp_roads: weighted shortest paths, Bellman-Ford rounds ------------------
#
# Graph: V = COUNT(DISTINCT user_id) nodes (scales with the corpus), a
# connectivity backbone i -> i+1 plus 3V hash-random directed edges with
# integer weights 1..99 — both derivable from the shared hash on either
# engine. SSSP_ROUNDS Bellman-Ford relaxations from node 0 compute the
# exact min-cost path using <= SSSP_ROUNDS edges; unreached nodes are
# absent on both engines. Scale shape: each round is ONE equi-join
# (dist x edges on src) + ONE groupBy-min keyed by node — the min-plus
# semiring product; rounds stay in the driver loop exactly like
# pagerank_fixedpoint, and at a 100 TB edge table each round remains a
# pair of shuffles with map-side combine (no path enumeration, state is
# one row per node).

SSSP_ROUNDS = 8
SSSP_EDGE_FACTOR = 3  # random edges = factor * V


def _backbone_w_sql(i: str) -> str:
    return f"(1 + ({mix_sql(f'({i}) * 7 + 3')}) % 9)"


def _rand_src_sql(j: str, v: str) -> str:
    return f"(({mix_sql(f'({j}) * 3 + 11')}) % {v})"


def _rand_dst_sql(j: str, v: str) -> str:
    return f"(({mix_sql(f'({j}) * 3 + 12')}) % {v})"


def _rand_w_sql(j: str) -> str:
    return f"(1 + ({mix_sql(f'({j}) * 3 + 13')}) % 99)"


def q_sssp_roads(spark, sf_dir):
    """Exact single-source shortest paths using <= SSSP_ROUNDS edges."""
    ev = _t(spark, sf_dir, "events")
    v = ev.agg(F.countDistinct("user_id")).collect()[0][0]  # bounded scalar
    backbone = spark.range(v - 1).selectExpr(
        "id AS src", "id + 1 AS dst", f"{_backbone_w_sql('id')} AS w")
    rand = (spark.range(SSSP_EDGE_FACTOR * v)
            .selectExpr(f"{_rand_src_sql('id', v)} AS src",
                        f"{_rand_dst_sql('id', v)} AS dst",
                        f"{_rand_w_sql('id')} AS w")
            .where("src <> dst"))
    edges = backbone.unionAll(rand)
    dist = spark.range(1).selectExpr("CAST(0 AS BIGINT) AS node",
                                     "CAST(0 AS BIGINT) AS d")
    for _ in range(SSSP_ROUNDS):
        relaxed = (dist.join(edges, dist.node == edges.src)
                   .selectExpr("dst AS node", "d + w AS d"))
        dist = (dist.unionAll(relaxed)
                .groupBy("node").agg(F.min("d").alias("d")))
    return dist.selectExpr("node", "CAST(d AS BIGINT) AS dist")


def _oracle_sssp() -> str:
    v = "(SELECT COUNT(DISTINCT user_id) FROM events)"
    stages = [f"""
edges AS (
  SELECT CAST(i AS BIGINT) AS src, CAST(i + 1 AS BIGINT) AS dst,
         CAST({_backbone_w_sql('i')} AS BIGINT) AS w
  FROM (SELECT UNNEST(range({v} - 1)) AS i)
  UNION ALL
  SELECT * FROM (
    SELECT CAST({_rand_src_sql('j', v)} AS BIGINT) AS src,
           CAST({_rand_dst_sql('j', v)} AS BIGINT) AS dst,
           CAST({_rand_w_sql('j')} AS BIGINT) AS w
    FROM (SELECT UNNEST(range({SSSP_EDGE_FACTOR} * {v})) AS j))
  WHERE src <> dst),
d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d)"""]
    for r in range(1, SSSP_ROUNDS + 1):
        stages.append(f"""
d{r} AS (
  SELECT node, MIN(d) AS d FROM (
    SELECT node, d FROM d{r - 1}
    UNION ALL
    SELECT e.dst AS node, p.d + e.w AS d
    FROM d{r - 1} p JOIN edges e ON e.src = p.node)
  GROUP BY node)""")
    return ("WITH " + ",".join(stages) +
            f"\nSELECT node, CAST(d AS BIGINT) AS dist FROM d{SSSP_ROUNDS}")


# --- betweenness_roads: Brandes dependency accumulation (sampled sources) -----
#
# The remaining classic centrality next to PageRank/HITS/k-core:
# betweenness via Brandes' algorithm on the SAME hash-derived road
# graph sssp_roads uses, from BC_SOURCES fixed sources (source-sampled
# betweenness — the standard estimator; exact per included source).
# Source-PARALLEL: state is keyed (source, node), so each of the
# BC_ROUNDS forward levels is ONE (s,node)-keyed join + groupBy-SUM
# (level-synchronized BFS: dist via min-plus rounds, then σ accumulated
# level by level — σ_l(v) = Σ over edges u→v with dist(u)=l−1 of σ(u)),
# and each backward level accumulates the Brandes dependency
#   δ(v) += ⌊σ(v) · (SCALE + δ(w)) / σ(w)⌋   over edges v→w one level
# deeper — quantized to integer SCALE-units with floor division per
# TERM (the repo's variable-cardinality float rule made exact), so both
# engines replay it bit-for-bit. Directed paths of ≤ BC_ROUNDS edges
# (documented truncation — the sssp_roads horizon). Output: top
# BC_TOPK nodes by accumulated dependency, total order.

BC_SOURCES = 4
BC_ROUNDS = 6
BC_SCALE = 1_000_000
BC_TOPK = 15


def _bc_edges(spark, v):
    backbone = spark.range(v - 1).selectExpr(
        "id AS src", "id + 1 AS dst")
    rand = (spark.range(SSSP_EDGE_FACTOR * v)
            .selectExpr(f"{_rand_src_sql('id', v)} AS src",
                        f"{_rand_dst_sql('id', v)} AS dst")
            .where("src <> dst"))
    return backbone.unionAll(rand).distinct()


def _bc_src_sql(k: str, v: str) -> str:
    return f"(({mix_sql(f'({k}) * 5 + 17')}) % {v})"


def q_betweenness_roads(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    v = ev.agg(F.countDistinct("user_id")).collect()[0][0]  # bounded scalar
    edges = _bc_edges(spark, v).localCheckpoint()
    srcs = spark.range(BC_SOURCES).selectExpr(
        "id AS s", f"CAST({_bc_src_sql('id', v)} AS BIGINT) AS node")

    # forward min-dist BFS (unit weights), keyed (s, node)
    dist = srcs.selectExpr("s", "node", "CAST(0 AS BIGINT) AS d")
    for _ in range(BC_ROUNDS):
        relaxed = (dist.join(edges, dist.node == edges.src)
                   .selectExpr("s", "dst AS node", "d + 1 AS d"))
        dist = (dist.unionAll(relaxed)
                .groupBy("s", "node").agg(F.min("d").alias("d")))
    dist = dist.localCheckpoint()

    # sigma, level by level
    sigma = dist.where("d = 0").selectExpr(
        "s", "node", "CAST(1 AS BIGINT) AS sig")
    for lvl in range(1, BC_ROUNDS + 1):
        nxt = (sigma.join(edges, sigma.node == edges.src)
               .selectExpr("s", "dst AS node", "sig")
               .join(dist.where(f"d = {lvl}")
                     .selectExpr("s AS s2", "node AS n2"),
                     F.expr("s = s2 AND node = n2"))
               .groupBy("s", "node").agg(F.sum("sig").alias("sig")))
        sigma = sigma.unionAll(nxt)
    sigma = sigma.join(dist, ["s", "node"]).localCheckpoint()

    # backward dependency accumulation, deepest level first
    delta = sigma.selectExpr("s", "node", "d",
                             "CAST(0 AS BIGINT) AS dq")
    for lvl in range(BC_ROUNDS - 1, -1, -1):
        contrib = (delta.where(f"d = {lvl + 1}")
                   .selectExpr("s AS sw", "node AS w", "dq AS dqw")
                   .join(edges.selectExpr("src AS vv", "dst AS w"), "w")
                   .join(sigma.where(f"d = {lvl + 1}")
                         .selectExpr("s AS sw2", "node AS w2",
                                     "sig AS sigw"),
                         F.expr("sw = sw2 AND w = w2"))
                   .join(sigma.where(f"d = {lvl}")
                         .selectExpr("s AS sv", "node AS v2",
                                     "sig AS sigv"),
                         F.expr("sw = sv AND vv = v2"))
                   .selectExpr("sv AS s", "vv AS node",
                               f"(sigv * ({BC_SCALE} + dqw)) DIV sigw "
                               "AS c")
                   .groupBy("s", "node").agg(F.sum("c").alias("add")))
        delta = (delta.join(contrib, ["s", "node"], "left")
                 .selectExpr("s", "node", "d",
                             "dq + COALESCE(add, 0) AS dq")
                 .localCheckpoint())
    bc = (delta.where("d > 0")            # exclude each source itself
          .groupBy("node").agg(F.sum("dq").alias("bc_q"),
                               F.count(F.lit(1)).alias("n_sources")))
    return (bc.orderBy(F.desc("bc_q"), "node").limit(BC_TOPK)
            .selectExpr("CAST(node AS BIGINT) AS node",
                        "CAST(bc_q AS BIGINT) AS bc_q",
                        "CAST(n_sources AS BIGINT) AS n_sources"))


def _oracle_betweenness() -> str:
    v = "(SELECT COUNT(DISTINCT user_id) FROM events)"
    stages = [f"""
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT CAST(i AS BIGINT) AS src, CAST(i + 1 AS BIGINT) AS dst
    FROM (SELECT UNNEST(range({v} - 1)) AS i)
    UNION ALL
    SELECT * FROM (
      SELECT CAST({_rand_src_sql('j', v)} AS BIGINT) AS src,
             CAST({_rand_dst_sql('j', v)} AS BIGINT) AS dst
      FROM (SELECT UNNEST(range({SSSP_EDGE_FACTOR} * {v})) AS j))
    WHERE src <> dst)),
d0 AS (
  SELECT CAST(k AS BIGINT) AS s,
         CAST({_bc_src_sql('k', v)} AS BIGINT) AS node,
         CAST(0 AS BIGINT) AS d
  FROM (SELECT UNNEST(range({BC_SOURCES})) AS k))"""]
    for r in range(1, BC_ROUNDS + 1):
        stages.append(f"""
d{r} AS (
  SELECT s, node, MIN(d) AS d FROM (
    SELECT s, node, d FROM d{r - 1}
    UNION ALL
    SELECT p.s, e.dst AS node, p.d + 1 AS d
    FROM d{r - 1} p JOIN edges e ON e.src = p.node)
  GROUP BY s, node)""")
    stages.append(f"""
dist AS MATERIALIZED (SELECT * FROM d{BC_ROUNDS}),
sig0 AS (SELECT s, node, CAST(1 AS BIGINT) AS sig
         FROM dist WHERE d = 0)""")
    for lvl in range(1, BC_ROUNDS + 1):
        stages.append(f"""
sig{lvl} AS (
  SELECT * FROM sig{lvl - 1}
  UNION ALL
  SELECT p.s, e.dst AS node, SUM(p.sig) AS sig
  FROM sig{lvl - 1} p JOIN edges e ON e.src = p.node
  JOIN dist dd ON dd.s = p.s AND dd.node = e.dst AND dd.d = {lvl}
  GROUP BY p.s, e.dst)""")
    stages.append(f"""
sigma AS MATERIALIZED (
  SELECT g.s, g.node, g.sig, dist.d
  FROM sig{BC_ROUNDS} g JOIN dist
    ON dist.s = g.s AND dist.node = g.node),
del{BC_ROUNDS} AS (
  SELECT s, node, d, CAST(0 AS BIGINT) AS dq FROM sigma)""")
    for lvl in range(BC_ROUNDS - 1, -1, -1):
        stages.append(f"""
del{lvl} AS (
  SELECT p.s, p.node, p.d,
         p.dq + COALESCE(c.addq, 0) AS dq
  FROM del{lvl + 1} p
  LEFT JOIN (
    SELECT sv.s, sv.node,
           SUM((sv.sig * ({BC_SCALE} + w.dq)) // sw.sig) AS addq
    FROM del{lvl + 1} w
    JOIN edges e ON e.dst = w.node
    JOIN sigma sw ON sw.s = w.s AND sw.node = w.node
      AND sw.d = {lvl + 1}
    JOIN sigma sv ON sv.s = w.s AND sv.node = e.src AND sv.d = {lvl}
    WHERE w.d = {lvl + 1}
    GROUP BY sv.s, sv.node) c
    ON c.s = p.s AND c.node = p.node)""")
    return ("WITH " + ",".join(stages) + f"""
SELECT CAST(node AS BIGINT) AS node, CAST(SUM(dq) AS BIGINT) AS bc_q,
       CAST(COUNT(*) AS BIGINT) AS n_sources
FROM del0 WHERE d > 0
GROUP BY node ORDER BY bc_q DESC, node LIMIT {BC_TOPK}""")


# --- dp_noisy_counts: discrete-Laplace differential privacy --------------------
#
# The geometric (discrete Laplace) mechanism releases COUNT + (G1 - G2),
# G1, G2 iid Geometric(alpha = 1/2) — epsilon = ln(2)-DP for
# sensitivity-1 counts (Ghosh/Roughgarden/Sundararajan's universally
# optimal mechanism). Determinism: G is read off the repo hash's uniform
# 32 bits by pure integer threshold comparisons (P(G = m) = 2^-(m+1)),
# so the noise — and therefore the released value — is bit-identical on
# Spark, DuckDB, and numpy, with zero transcendental calls. Scale shape:
# one groupBy of the events table with map-side combine; the noise is a
# scalar expression on the (tiny) aggregate.

DP_GEOM_MAX = 31  # tail mass beyond 31 folds into the last bucket


def _geom_sql(u32: str) -> str:
    """Geometric(1/2) sample from a uniform uint32: G = m iff
    u32 in [2^32 - 2^(32-m), 2^32 - 2^(32-m-1)), i.e. P(G=m) = 2^-(m+1)."""
    branches = []
    for m in range(DP_GEOM_MAX):
        thr = U32 - (1 << (32 - m - 1))
        branches.append(f"WHEN ({u32}) < {thr} THEN {m}")
    return ("(CASE " + " ".join(branches) +
            f" ELSE {DP_GEOM_MAX} END)")


def _dp_noise_sql(key: str) -> str:
    g1 = _geom_sql(mix_sql(f"({key}) * 2 + 1"))
    g2 = _geom_sql(mix_sql(f"({key}) * 2 + 2"))
    return f"({g1} - {g2})"


_DP_TYPE_CODE = ("(CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 "
                 "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 "
                 "WHEN 'view' THEN 4 ELSE 5 END)")
DP_DAY_US = 86400 * 1000000


def q_dp_noisy_counts(spark, sf_dir):
    """eps = ln(2) differentially-private per-(event_type, day) counts."""
    ev = _t(spark, sf_dir, "events")
    agg = (ev.selectExpr(
        "event_type",
        f"CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP_LTZ)) / {float(DP_DAY_US)!r}) AS BIGINT)"
        " AS day",
        f"{_DP_TYPE_CODE} AS tcode")
        .groupBy("event_type", "day", "tcode")
        .agg(F.count(F.lit(1)).alias("n_true")))
    key = "(day * 8 + tcode)"
    return agg.selectExpr(
        "event_type", "day",
        f"CAST(n_true + {_dp_noise_sql(key)} AS BIGINT) AS n_noisy")


def _oracle_dp() -> str:
    key = "(day * 8 + tcode)"
    return f"""
WITH agg AS (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / {float(DP_DAY_US)!r}) AS BIGINT) AS day,
         {_DP_TYPE_CODE} AS tcode,
         COUNT(*) AS n_true
  FROM events GROUP BY 1, 2, 3)
SELECT event_type, day,
       CAST(n_true + {_dp_noise_sql(key)} AS BIGINT) AS n_noisy
FROM agg
"""


# --- trajectory_alignment: DTW + discrete Fréchet -----------------------------
#
# The sequence-alignment family (dedup_editdist is the string analog; this
# is the trajectory analog used for GPS-track similarity / near-duplicate
# route mining). Each sampled user's first ALIGN_LEN points (ts order,
# event_id tiebreak) quantize to the level-12 integer lattice; pairwise
# point cost is Manhattan |dx|+|dy| (exact int64). Both alignment
# distances come from the SAME cost matrix with two semirings:
#   DTW      D_ij = c_ij + min(D_{i-1,j}, D_{i,j-1}, D_{i-1,j-1})  (sum/min)
#   Fréchet  F_ij = max(c_ij, min(F_{i-1,j}, F_{i,j-1}, F_{i-1,j-1}))
# The DP is unrolled by anti-diagonal into staged integer projections —
# whole-stage codegen on Spark, chained CTEs on DuckDB, both generated
# from ONE shared emitter so the op sequence is literally identical.
# Scale shape: candidate pairs are BLOCKED on the level-1 cell of each
# user's first point (the standard trajectory-blocking trick) — never
# all-pairs across blocks; per-pair work is a constant 2*L^2 integer ops,
# so the whole operator is one equi-join + a map stage at any corpus size.

ALIGN_LEN = 6          # points per trajectory
ALIGN_LVL = 12         # quantization lattice (4096 x 4096)
ALIGN_SAMPLE_MOD = 10  # user cohort knob
ALIGN_BLOCK_LVL = 1    # pair-blocking cell level


def _align_dp_stages() -> list:
    """Shared DP emitter: list of stages, each a list of (alias, expr).
    Stage k may reference aliases from stages < k only."""
    L = ALIGN_LEN
    cost = [(f"c_{i}_{j}",
             f"(ABS(ax_{i} - bx_{j}) + ABS(ay_{i} - by_{j}))")
            for i in range(L) for j in range(L)]
    stages = [cost]
    for diag in range(2 * L - 1):
        st = []
        for i in range(L):
            j = diag - i
            if not 0 <= j < L:
                continue
            c = f"c_{i}_{j}"
            if i == 0 and j == 0:
                st.append((f"d_{i}_{j}", f"({c})"))
                st.append((f"f_{i}_{j}", f"({c})"))
            elif i == 0:
                st.append((f"d_{i}_{j}", f"(d_{i}_{j - 1} + {c})"))
                st.append((f"f_{i}_{j}",
                           f"(GREATEST(f_{i}_{j - 1}, {c}))"))
            elif j == 0:
                st.append((f"d_{i}_{j}", f"(d_{i - 1}_{j} + {c})"))
                st.append((f"f_{i}_{j}",
                           f"(GREATEST(f_{i - 1}_{j}, {c}))"))
            else:
                mn_d = (f"LEAST(d_{i - 1}_{j}, d_{i}_{j - 1}, "
                        f"d_{i - 1}_{j - 1})")
                mn_f = (f"LEAST(f_{i - 1}_{j}, f_{i}_{j - 1}, "
                        f"f_{i - 1}_{j - 1})")
                st.append((f"d_{i}_{j}", f"({c} + {mn_d})"))
                st.append((f"f_{i}_{j}", f"(GREATEST({c}, {mn_f}))"))
        stages.append(st)
    return stages


def _traj_pivot_exprs() -> list:
    """(alias, agg-expr) for the per-user fixed-length point pivot."""
    out = []
    for k in range(ALIGN_LEN):
        out.append((f"x_{k}", f"MAX(CASE WHEN rn = {k + 1} THEN ix END)"))
        out.append((f"y_{k}", f"MAX(CASE WHEN rn = {k + 1} THEN iy END)"))
    return out


def q_trajectory_alignment(spark, sf_dir):
    """DTW + discrete-Fréchet distance between cell-blocked sampled-user
    trajectory prefixes — both exact int64 from one staged integer DP."""
    ev = _t(spark, sf_dir, "events")
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, ALIGN_LVL)
    pts = (ev.where(F.col("user_id") % ALIGN_SAMPLE_MOD == 0)
           .selectExpr("user_id", "ts", "event_id",
                       f"{ix} AS ix", f"{iy} AS iy")
           .selectExpr("user_id", "ix", "iy",
                       "ROW_NUMBER() OVER (PARTITION BY user_id "
                       "ORDER BY ts, event_id) AS rn")
           .where(F.col("rn") <= ALIGN_LEN))
    traj = (pts.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_pts"),
                 *[F.expr(e).alias(a) for a, e in _traj_pivot_exprs()])
            .where(F.col("n_pts") == ALIGN_LEN))
    block = (f"CAST(FLOOR(x_0 / {float(1 << (ALIGN_LVL - ALIGN_BLOCK_LVL))!r})"
             f" AS BIGINT) * 2 + "
             f"CAST(FLOOR(y_0 / {float(1 << (ALIGN_LVL - ALIGN_BLOCK_LVL))!r})"
             " AS BIGINT)")
    traj = traj.selectExpr("*", f"{block} AS blk")
    a = traj.selectExpr("user_id AS ua", "blk",
                        *[f"x_{k} AS ax_{k}" for k in range(ALIGN_LEN)],
                        *[f"y_{k} AS ay_{k}" for k in range(ALIGN_LEN)])
    b = traj.selectExpr("user_id AS ub", "blk",
                        *[f"x_{k} AS bx_{k}" for k in range(ALIGN_LEN)],
                        *[f"y_{k} AS by_{k}" for k in range(ALIGN_LEN)])
    pairs = a.join(b, "blk").where(F.col("ua") < F.col("ub"))
    for st in _align_dp_stages():
        pairs = pairs.selectExpr("*", *[f"{e} AS {al}" for al, e in st])
    last = ALIGN_LEN - 1
    return pairs.selectExpr(
        "ua AS user_a", "ub AS user_b",
        f"CAST(d_{last}_{last} AS BIGINT) AS dtw",
        f"CAST(f_{last}_{last} AS BIGINT) AS frechet")


def _oracle_alignment() -> str:
    ix, iy = cells.quantize_sql(fixtures.EVENT_LON_SQL,
                                fixtures.EVENT_LAT_SQL, ALIGN_LVL)
    piv = ",\n         ".join(f"{e} AS {a}" for a, e in _traj_pivot_exprs())
    blk = (f"CAST(FLOOR(x_0 / {float(1 << (ALIGN_LVL - ALIGN_BLOCK_LVL))!r})"
           f" AS BIGINT) * 2 + "
           f"CAST(FLOOR(y_0 / {float(1 << (ALIGN_LVL - ALIGN_BLOCK_LVL))!r})"
           " AS BIGINT)")
    ctes = [f"""
pts AS (
  SELECT user_id, ix, iy,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM (SELECT user_id, ts, event_id, {ix} AS ix, {iy} AS iy
        FROM events WHERE user_id % {ALIGN_SAMPLE_MOD} = 0)
  QUALIFY rn <= {ALIGN_LEN}),
traj AS (
  SELECT user_id, {piv}
  FROM pts GROUP BY user_id HAVING COUNT(*) = {ALIGN_LEN}),
blocked AS (SELECT *, {blk} AS blk FROM traj),
t0 AS (
  SELECT a.user_id AS ua, b.user_id AS ub,
         {", ".join(f"a.x_{k} AS ax_{k}, a.y_{k} AS ay_{k}, "
                    f"b.x_{k} AS bx_{k}, b.y_{k} AS by_{k}"
                    for k in range(ALIGN_LEN))}
  FROM blocked a JOIN blocked b
    ON a.blk = b.blk AND a.user_id < b.user_id)"""]
    prev = "t0"
    for n, st in enumerate(_align_dp_stages(), start=1):
        cols = ", ".join(f"{e} AS {al}" for al, e in st)
        ctes.append(f"t{n} AS (SELECT *, {cols} FROM {prev})")
        prev = f"t{n}"
    last = ALIGN_LEN - 1
    return ("WITH " + ",".join(ctes) + f"""
SELECT ua AS user_a, ub AS user_b,
       CAST(d_{last}_{last} AS BIGINT) AS dtw,
       CAST(f_{last}_{last} AS BIGINT) AS frechet
FROM {prev}""")


QUERIES: dict = {
    "convoy_pairs": (q_convoy_pairs, _oracle_convoy()),
    "sssp_roads": (q_sssp_roads, _oracle_sssp()),
    "betweenness_roads": (q_betweenness_roads, _oracle_betweenness()),
    "dp_noisy_counts": (q_dp_noisy_counts, _oracle_dp()),
    "trajectory_alignment": (q_trajectory_alignment, _oracle_alignment()),
}
