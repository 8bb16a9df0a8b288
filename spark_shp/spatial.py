"""Spatial engine operators (SURVEY.md §2.B) — DataFrame-level compositions.

Design (Spark-first, scale-first):

* ``tile_assign`` is a PURE SQL integer expression (cells.cell_sql) — stays
  inside whole-stage codegen, no Python in the hot path, pushdown-friendly.
* ``spatial_join`` is the canonical two-stage plan: coarse equi-join on cell
  id (polygon side exploded to its cell cover, point side tile-assigned at
  the same level) followed by exact ray-cast PIP refinement.  At 100 TB the
  equi-join on int64 cells is the only shuffle (polygons of ≤ 64 edges),
  and it partitions by cell — spatial locality comes for free.
* One cover builder (:func:`_cover_rows`) emits every cover row, carrying
  in flat padded columns the edges of its polygon that a ray from its cell
  can cross, so the refine is the same codegen SQL ray-cast whether the
  cover is built on the driver and broadcast (small layers) or built
  distributed in one ``mapInPandas`` (big layers): a parity filter when
  every polygon fits one row, a summed crossing count per (point,
  polygon) when wide polygons split into edge chunks. No Python runs
  between the candidate join and the output.
* kNN has one candidate mechanism, all SQL: a point fans out to the
  (2r + 1)**2 grid cells around its own and equi-joins the dims on their
  cell, as ``distance_join_cells`` does at r = 1. ``knn_join_broadcast``
  is the brute-force reference; ``knn_join_cells`` the ring top-k, which
  ``knn_join_cells_exact`` certifies per point in one window, repairing
  the rest by brute force. A point or dim with a NULL or NaN coordinate
  is in no pair, on every route.

Reference parity: ring-hole semantics of the PIP match shapefile-js's
polygon assembly (geom.assemble_rings / even-odd parity; SURVEY §2.B B6).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from . import cells, geom


def tile_assign(df: DataFrame, lon_col: str, lat_col: str, level: int,
                out_col: str = "cell_id") -> DataFrame:
    """B5/B1: add the int64 cell (tile) id as a codegen'd SQL expression."""
    return df.withColumn(out_col, F.expr(cells.cell_sql(lon_col, lat_col, level)))


# Widest edge table one cover row carries: the inline refine is one codegen
# expression of this many padded edges (compile time + register pressure
# grow with it); fence/nation layers sit at ≤ 12. Wider polygons split into
# chunks of this many edges whose crossing counts are summed.
MAX_INLINE_EDGES = 64

# Auto-route bounds: a polygon layer is collected and its cover broadcast
# when it has at most AUTO_BROADCAST_MAX_POLYS rows AND that cover — built
# in pandas on the driver, then shipped to every executor — takes at most
# AUTO_BROADCAST_MAX_BYTES. Every cover row carries edges (a wide polygon
# one 64-edge chunk per row, ~2 KB), so a few wide polygons over many
# cells can pass the row bound and still be hundreds of MB.
AUTO_BROADCAST_MAX_POLYS = 4096
AUTO_BROADCAST_MAX_BYTES = 32 << 20

# Largest broadcast cover kept in the plan as a local relation (see
# _local_cover_df); the fence layers' covers are a few hundred KB.
COVER_LOCAL_MAX_BYTES = 1 << 20

def _edge_cols(width: int) -> list[str]:
    return [f"_ej{i}_{k}" for i in range(width)
            for k in ("x1", "y1", "x2", "y2")]


def _polygon_edges(coords) -> np.ndarray:
    """(m, 4) edge table of one polygon's (part, ring, point) coordinates.
    Arrow hands the ragged nesting as object ndarrays, on which
    np.asarray(dtype=float) is unreliable — stack the points explicitly."""
    return geom.rings_to_edges(
        [np.stack([np.asarray(p, dtype=np.float64) for p in ring])
         for part in (coords if coords is not None else []) for ring in part])


def _cover_schema(width: int, chunked: bool) -> T.StructType:
    keys = ["poly_id", "cell_id"] + (["chunk_no"] if chunked else [])
    return T.StructType([T.StructField(c, T.LongType()) for c in keys]
                        + [T.StructField(c, T.DoubleType())
                           for c in _edge_cols(width)])


def _cover_rows(poly_ids, bboxes, edges, level: int, width: int,
                chunked: bool) -> pd.DataFrame:
    """The cover builder: one row per (polygon, cell of its bbox at
    ``level``, edge chunk) with columns ``poly_id, cell_id, [chunk_no,]
    _ej{i}_{x1,y1,x2,y2}`` for ``i < width``.

    A cell carries only the edges of its polygon (``edges[i]``, from
    :func:`_polygon_edges`) that a ray cast east from a point of the cell
    can cross: those whose y-range meets the cell's row band and whose
    east end reaches the cell's west side. Any other edge adds 0 to every
    such point's crossing count, so parity is unchanged. The band and the
    west side are widened by a quarter cell, because a point's cell comes
    from float quantization, and are open at the clamped grid borders; an
    edge with a NaN coordinate is always kept. The kept edges (east ends
    descending, so each cell of a band keeps a prefix of the band's edges)
    are padded with degenerate (0,0,0,0) edges — they never straddle a ray
    — to ⌈k/width⌉ chunks of ``width`` edges, at least one. Without
    ``chunked`` every cell must fit one chunk: a wider one raises instead
    of emitting rows that a per-row parity filter would get wrong.
    ``width=0`` carries no edges (``edges`` is not read): the bare
    (poly_id, cell_id) cover."""
    n = 1 << level
    cw, ch = 360.0 / n, 170.0 / n
    empty = np.zeros(0, dtype=np.int64)
    pid_out, cell_out, chunk_out = [empty], [empty], [empty]
    edge_out = [np.zeros((0, 4 * width))]
    for i, (pid, bb) in enumerate(zip(poly_ids, bboxes)):
        (ix0, ix1), (iy0, iy1) = cells.quantize(
            np.array([bb["xmin"], bb["xmax"]]),
            np.array([bb["ymin"], bb["ymax"]]), level)
        xs = np.arange(ix0, ix1 + 1, dtype=np.int64)
        n_chunks, table = np.ones(len(xs), dtype=np.int64), np.zeros((1, 0))
        if width:
            e = edges[i]
            nan = np.isnan(e).any(axis=1)
            east = np.where(nan, np.inf, np.fmax(e[:, 0], e[:, 2]))
            order = np.argsort(-east, kind="stable")
            e, east, nan = e[order], east[order], nan[order]
            ylo = np.where(nan, -np.inf, np.minimum(e[:, 1], e[:, 3]))
            yhi = np.where(nan, np.inf, np.maximum(e[:, 1], e[:, 3]))
            west = np.where(xs == 0, -np.inf, -180.0 + (xs - 0.25) * cw)
        for iy in range(iy0, iy1 + 1):
            if width:
                lo = -np.inf if iy == 0 else -85.0 + (iy - 0.25) * ch
                hi = np.inf if iy == n - 1 else -85.0 + (iy + 1.25) * ch
                in_band = (yhi > lo) & (ylo <= hi)
                band = e[in_band]
                # k[j]: the band's edges whose east end reaches cell j
                k = np.searchsorted(-east[in_band], -west, side="right")
                n_chunks = np.maximum(1, -(-k // width))
                if n_chunks.max() > 1 and not chunked:
                    raise ValueError(f"polygon {pid}: {k.max()} edges in "
                                     f"a cell > {width}")
                pad = np.zeros((n_chunks.max() * width, 4))
                pad[: min(len(band), len(pad))] = band[: len(pad)]
                table = pad.reshape(-1, 4 * width)
            chunk = (np.arange(n_chunks.sum())
                     - np.repeat(np.cumsum(n_chunks) - n_chunks, n_chunks))
            ids = ((cells.morton(xs, np.full_like(xs, iy), level)
                    << cells.LEVEL_BITS) | level)
            pid_out.append(np.full(len(chunk), pid, dtype=np.int64))
            cell_out.append(np.repeat(ids, n_chunks))
            chunk_out.append(chunk)
            edge_out.append(table[chunk])
    keys = {"poly_id": pid_out, "cell_id": cell_out}
    if chunked:
        keys["chunk_no"] = chunk_out
    return pd.concat(
        [pd.DataFrame({k: np.concatenate(v) for k, v in keys.items()}),
         pd.DataFrame(np.concatenate(edge_out), columns=_edge_cols(width))],
        axis=1)


def _cover_df(polys: DataFrame, level: int, width: int,
              chunked: bool) -> DataFrame:
    """:func:`_cover_rows` over a distributed polygon layer, in one
    mapInPandas (no driver collect)."""
    def cover(batches):
        for pdf in batches:
            edges = ([_polygon_edges(c) for c in pdf["coordinates"]]
                     if width else None)
            yield _cover_rows(pdf["poly_id"], pdf["bbox"], edges, level,
                              width, chunked)

    cols = ["poly_id", "bbox"] + (["coordinates"] if width else [])
    return polys.select(*cols).mapInPandas(cover,
                                           _cover_schema(width, chunked))


def _local_cover_df(spark, pdf: pd.DataFrame,
                    schema: T.StructType) -> DataFrame:
    """A driver-built cover as a DataFrame. Spark keeps an Arrow-converted
    pandas frame below ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MB by default) in the plan as a LocalRelation, and a
    BroadcastHashJoin outside whole-stage codegen — wide cover rows exceed
    ``spark.sql.codegen.maxFields`` — ships its build subtree, that
    relation included, to every task of its stage (a 24 MB cover joined
    with 200k points, local[4] on 4 vCPUs: 5.8 s against 0.95 s). Covers
    above COVER_LOCAL_MAX_BYTES go through an RDD instead."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, str(COVER_LOCAL_MAX_BYTES))
    try:
        return spark.createDataFrame(pdf, schema)
    finally:
        spark.conf.set(key, old)


def polygon_cover(polys: DataFrame, level: int) -> DataFrame:
    """B4: (poly_id, cell_id) cover — every cell at ``level`` whose grid
    square intersects the polygon's bbox."""
    return _cover_df(polys, level, 0, False)


def polygon_cover_edges(polys: DataFrame, level: int,
                        max_edges: int) -> DataFrame:
    """Distributed (poly_id, cell_id, edge-columns) cover: like
    polygon_cover but each row carries ``max_edges`` padded edge columns
    holding the edges of its polygon that a ray from its cell can cross
    (:func:`_cover_rows`). A cell with more such edges spans several rows,
    one per edge chunk."""
    return _cover_df(polys, level, max_edges, True).drop("chunk_no")


def _inline_crossings_sum(max_e: int, lon_col: str, lat_col: str) -> str:
    """Ray-cast crossing COUNT as one whole-stage-codegen SQL expression
    over flat edge columns ``_ej{i}_{x1,y1,x2,y2}``.

    Bit-identical arithmetic to :func:`geom.crossings` (same half-open rule
    ``(y1 > py) != (y2 > py)``, same left-to-right float64 expression for the
    crossing x). Padding slots are degenerate edges (0,0,0,0): the straddle
    conjunct is false, so they contribute 0 crossings. Crossings are
    ADDITIVE over any partition of the edge set — the chunked refine sums
    this expression across edge chunks before taking parity.
    """
    terms = []
    for i in range(max_e):
        x1, y1 = f"_ej{i}_x1", f"_ej{i}_y1"
        x2, y2 = f"_ej{i}_x2", f"_ej{i}_y2"
        terms.append(
            f"CASE WHEN (({y1} > {lat_col}) <> ({y2} > {lat_col})) AND "
            f"({lon_col} < {x1} + ({lat_col} - {y1}) * ({x2} - {x1}) / "
            f"({y2} - {y1})) THEN 1 ELSE 0 END")
    return f"({' + '.join(terms)})"


def _inline_parity_predicate(max_e: int, lon_col: str, lat_col: str) -> str:
    """Even-odd ray-cast as ONE codegen SQL predicate (see
    :func:`_inline_crossings_sum`)."""
    return f"{_inline_crossings_sum(max_e, lon_col, lat_col)} % 2 = 1"


def _probe_layer(polys: DataFrame, level: int) -> tuple[int, int, int]:
    """(row count, max edges per polygon, bytes of the cover at ``level``)
    in ONE aggregation job, never deserializing geometry into Python.

    A ring counts its edges as :func:`geom.rings_to_edges` builds them: one
    per consecutive point pair, plus the wrap edge when the first and last
    points differ (NaN differs from itself there). The cover size counts,
    per polygon, its bbox cells at ``level`` times the chunks of its whole
    edge table, each row 8 B per column of :func:`_cover_schema`: exactly
    what :func:`_cover_rows` emits when every polygon fits one chunk, and
    an upper bound when cells keep fewer edges than their polygon has."""
    def ring_edges(ring):
        first, last = F.get(ring, 0), F.get(ring, F.size(ring) - 1)
        closed = (first == last) & ~F.exists(first, F.isnan)
        return F.size(ring) - F.when(closed, 1).otherwise(0)

    n_edges = F.aggregate(F.flatten(F.col("coordinates")), F.lit(0),
                          lambda acc, ring: acc + ring_edges(ring))
    ix0, iy0 = cells.quantize_sql("bbox.xmin", "bbox.ymin", level)
    ix1, iy1 = cells.quantize_sql("bbox.xmax", "bbox.ymax", level)
    n_cells = F.expr(f"GREATEST(0, {ix1} - {ix0} + 1) "
                     f"* GREATEST(0, {iy1} - {iy0} + 1)")
    n_chunks = F.greatest(F.lit(1), F.ceil(n_edges / MAX_INLINE_EDGES))
    row = polys.agg(F.count(F.lit(1)).alias("n"),
                    F.max(n_edges).alias("max_e"),
                    F.sum(n_cells).alias("cells"),
                    F.sum(n_cells * n_chunks).alias("chunk_rows")).collect()[0]
    max_e = int(row["max_e"] or 0)
    chunked = max_e > MAX_INLINE_EDGES
    n_rows = int((row["chunk_rows"] if chunked else row["cells"]) or 0)
    width = min(max_e, MAX_INLINE_EDGES)
    return (int(row["n"]), max_e,
            n_rows * 8 * len(_cover_schema(width, chunked)))


def spatial_join(points: DataFrame, polys: DataFrame, lon_col: str,
                 lat_col: str, level: int = 6,
                 broadcast_cover: bool | None = None,
                 salt_hot: int = 0, salt_factor: int = 16) -> DataFrame:
    """B7: inner point-in-polygon join → points columns + ``poly_id``.

    Stage 1: tile-assign points at ``level`` (pure codegen SQL); equi-join
    against the polygon layer's cell cover, whose rows carry their
    polygon's edges (:func:`_cover_rows`).
    Stage 2: exact even-odd ray-cast refinement as codegen SQL over those
    edge columns — no Python stage on either placement.

    Placement (``broadcast_cover``):
      * True — the layer is collected once, its cover built driver-side and
        broadcast-joined: the north rule's "AQE-aware broadcast of small
        polygon layers". ``salt_hot`` does not apply (no shuffle to skew).
      * False — the cover is built distributed in one mapInPandas and the
        candidate join shuffles on cell; ``salt_hot`` > 0 salts the
        ``salt_hot`` densest point cells across ``salt_factor`` keys (B13).
      * None (default) — one aggregation over the layer (count, max edges
        per polygon and cover size, :func:`_probe_layer`) picks True for
        layers of at most AUTO_BROADCAST_MAX_POLYS polygons whose cover
        takes at most AUTO_BROADCAST_MAX_BYTES, else False. Callers with a
        known shape pass it explicitly and skip the probe.

    Refine, picked from the layer's widest polygon (``max_e`` edges):
      * max_e ≤ MAX_INLINE_EDGES — every cover row holds all the edges its
        cell needs, and the refine is a plain parity filter. On the
        broadcast placement the join is ONE BroadcastHashJoin with the
        parity as its condition: a single JVM stage, zero shuffles (a
        mapInPandas refine here oversubscribes a box 2× — task thread +
        Python worker per core — and inverted the local[8]→local[32]
        scaling curve). The broadcast placement also takes this refine for
        a wider layer when each cell's crossable edges fit one row.
      * wider — a cell's edges split into MAX_INLINE_EDGES-edge chunks, one
        cover row per (cell, chunk); crossings are additive over chunks, so
        the crossing count is summed per (point row, polygon) and parity
        taken at the end. A transient row id keeps duplicate point rows
        apart through that aggregation. Neither a row id nor a second
        aggregation is allowed on a stream, so a streaming ``points`` with
        such a layer raises ValueError.
    """
    max_e = None
    if broadcast_cover is None:
        n_polys, max_e, cover_bytes = _probe_layer(polys, level)
        broadcast_cover = (n_polys <= AUTO_BROADCAST_MAX_POLYS
                           and cover_bytes <= AUTO_BROADCAST_MAX_BYTES)
    if broadcast_cover:
        rows = polys.select("poly_id", "bbox", "coordinates").collect()
        edges = [_polygon_edges(r["coordinates"]) for r in rows]
        max_e = max(map(len, edges), default=0)
    elif max_e is None:
        max_e = _probe_layer(polys, level)[1]
    if max_e == 0:
        # empty or edge-less layer: no point can be inside, and a zero-width
        # refine would be the unparseable predicate "() % 2 = 1"
        return (points.limit(0)
                .withColumn("poly_id", F.lit(None).cast("long")))

    width = min(max_e, MAX_INLINE_EDGES)
    chunked = max_e > MAX_INLINE_EDGES
    if broadcast_cover:
        pdf = _cover_rows([r["poly_id"] for r in rows],
                          [r["bbox"] for r in rows], edges, level, width,
                          chunked)
        if chunked and not pdf["chunk_no"].any():
            chunked = False
            pdf = pdf.drop(columns="chunk_no")
        if not chunked:
            # the trailing slots that no row fills are padding: drop them,
            # so narrow rows keep the join inside whole-stage codegen
            cols = _edge_cols(width)
            used = pdf[cols].to_numpy().reshape(
                len(pdf), width, 4).any(axis=(0, 2)).nonzero()[0]
            width = int(used[-1]) + 1 if len(used) else 1
            pdf = pdf.drop(columns=cols[4 * width:])
        cover = _local_cover_df(points.sparkSession, pdf,
                                _cover_schema(width, chunked))
    if chunked and points.isStreaming:
        raise ValueError(
            f"spatial_join on a stream needs every cell's crossable edges "
            f"to fit one row of {MAX_INLINE_EDGES}; this layer has a "
            f"polygon of {max_e} edges")
    pts = tile_assign(points, lon_col, lat_col, level, "_sj_cell")
    if chunked:
        pts = pts.withColumn("_sj_rid", F.monotonically_increasing_id())
    if broadcast_cover:
        cand = pts.join(F.broadcast(cover.withColumnRenamed(
            "cell_id", "_sj_cell")), "_sj_cell")
    else:
        cover = (_cover_df(polys, level, width, chunked)
                 .withColumnRenamed("cell_id", "_sj_cell"))
        if salt_hot:
            pts_s, hot = salt_hot_cells(pts, "_sj_cell", top_n=salt_hot,
                                        salt_factor=salt_factor)
            cover_s = explode_salts(cover, "_sj_cell", hot,
                                    salt_factor=salt_factor)
            cand = pts_s.join(cover_s.drop("_sj_cell"), "_salted_cell")
        else:
            cand = pts.join(cover, "_sj_cell")

    pt_cols = list(points.columns)
    if not chunked:
        kept = cand.where(F.expr(_inline_parity_predicate(width, lon_col,
                                                          lat_col)))
        return kept.select(*pt_cols, "poly_id")
    cross = F.expr(_inline_crossings_sum(width, lon_col, lat_col))
    agg = (cand.withColumn("_cross", cross)
           .groupBy("_sj_rid", "poly_id")
           .agg(*[F.first(c).alias(c) for c in pt_cols],
                F.sum("_cross").alias("_crossings")))
    return (agg.where(F.col("_crossings") % 2 == 1)
            .select(*pt_cols, "poly_id"))


def _d2(lon_a: str, lat_a: str, lon_b: str, lat_b: str):
    """Squared euclidean degree distance in plain products (not POWER), as
    the SQL oracles write it; NULL or NaN when a coordinate is."""
    dx = F.col(lon_a) - F.col(lon_b)
    dy = F.col(lat_a) - F.col(lat_b)
    return dx * dx + dy * dy


def _top_k(pairs: DataFrame, d2, k: int, point_id: str,
           dim_id: str) -> DataFrame:
    """The k rows of ``pairs`` per ``point_id`` of least ``_d2`` (the
    column ``d2``), ties broken by ``dim_id``, ranked ``knn_rank`` from 1.
    A pair whose ``_d2`` is not finite (a NULL or NaN coordinate) is
    dropped first."""
    w = Window.partitionBy(point_id).orderBy("_d2", dim_id)
    return (pairs.withColumn("_d2", d2).where(F.col("_d2") < float("inf"))
            .withColumn("knn_rank", F.row_number().over(w))
            .where(F.col("knn_rank") <= k))


def _ring_reach(level: int, r: int) -> float:
    """A distance whose computed square is below the computed ``_d2`` of
    every pair whose cells at ``level`` lie more than ``r`` apart.

    ``cells.quantize_sql`` rounds ``x + shift`` and ``/ span`` (``* n``,
    n = 2**level, is exact): inside the grid the computed fraction is
    within 3un of the exact one (u = 2**-53), outside both clamp to the
    same edge. Indices more than r apart need clamped fractions more than
    r apart, and clamping only brings fractions closer (the borders need
    no special case), so the pair's exact gap on that axis exceeds ``(r -
    6un) * span / n`` and its distance D exceeds ``rho = r * 170 / n -
    2160u``. ``_d2`` is at least ``D**2 * (1 - u)**4`` (five roundings);
    the value returned, squared with its three roundings, is below
    ``rho**2 * (1 - u)**4``: ``2**-40 = 8192u`` covers the 2160u, and
    ``1 - 2**-40`` the relative 4.5u."""
    return r * (170.0 / (1 << level)) * (1 - 2.0 ** -40) - 2.0 ** -40


def _ring_join(a: DataFrame, b: DataFrame, a_lon: str, a_lat: str,
               b_lon: str, b_lat: str, level: int, r: int) -> DataFrame:
    """``a`` joined to the rows of ``b`` whose ``cells.quantize_sql`` cell
    lies within ``r`` cells (Chebyshev) of its own: ``a`` fans out to the
    (2r + 1)**2 cells ``(ix + dx, iy + dy)``, dx, dy in [-r, r], and meets
    ``b`` on its own cell. A pair meets in at most one cell, and a cell off
    the grid meets nothing."""
    if r < 0:
        raise ValueError(f"ring radius must be >= 0, got {r}")
    ax, ay = cells.quantize_sql(a_lon, a_lat, level)
    bx, by = cells.quantize_sql(b_lon, b_lat, level)
    ring = "explode(sequence({0} - {1}, {0} + {1}))"
    fan = (a.withColumn("_ix", F.expr(ring.format(ax, r)))
           .withColumn("_iy", F.expr(ring.format(ay, r))))
    own = b.withColumn("_ix", F.expr(bx)).withColumn("_iy", F.expr(by))
    return fan.join(own, ["_ix", "_iy"]).drop("_ix", "_iy")


def knn_join_broadcast(points: DataFrame, dims: DataFrame, k: int,
                       lon_col: str, lat_col: str,
                       dim_lon: str, dim_lat: str, dim_id: str,
                       point_id: str) -> DataFrame:
    """B8 brute force: every point against every dim of a broadcast build
    side, then the top-k (:func:`_top_k`). The reference the other routes
    must equal, and the repair path of :func:`knn_join_cells_exact`."""
    return _top_k(points.join(F.broadcast(dims)),
                  _d2(lon_col, lat_col, dim_lon, dim_lat), k, point_id,
                  dim_id).drop("_d2")


def knn_join_cells(points: DataFrame, dims: DataFrame, k: int,
                   lon_col: str, lat_col: str, dim_lon: str, dim_lat: str,
                   dim_id: str, point_id: str, level: int = 4,
                   max_ring: int = 4, keep_dist: bool = False) -> DataFrame:
    """B8 ring candidates: each point's top-k among the dims whose cell at
    ``level`` lies within ``max_ring`` cells of its own (:func:`_ring_join`).
    The ring is static, so a point whose k nearest dims are not all in it
    gets fewer or farther rows: this is the candidate step of
    :func:`knn_join_cells_exact`. ``keep_dist`` keeps ``_d2``."""
    out = _top_k(_ring_join(points, dims, lon_col, lat_col, dim_lon,
                            dim_lat, level, max_ring),
                 _d2(lon_col, lat_col, dim_lon, dim_lat), k, point_id, dim_id)
    return out if keep_dist else out.drop("_d2")


def knn_join_cells_exact(points: DataFrame, dims: DataFrame, k: int,
                         lon_col: str, lat_col: str, dim_lon: str,
                         dim_lat: str, dim_id: str, point_id: str,
                         level: int | None = None,
                         max_ring: int = 2) -> DataFrame:
    """B8 scale path, exact on every input: :func:`knn_join_cells`' ring
    top-k, certified per point, the rest repaired by brute force.

    ``level=None`` sizes the grid from the dim count (one count() job) so
    a ring holds about 8k evenly spread dims. Every dim outside a point's
    ring is farther than :func:`_ring_reach`, so a point with k ring
    candidates, the kth within that reach, has the global top-k: one
    window gives each point its candidate count and kth ``_d2``. The other
    points go through :func:`knn_join_broadcast` (``dims`` broadcast)."""
    if level is None:
        n_dims = dims.count()
        cells_target = max(1.0, n_dims * (2 * max_ring + 1) ** 2
                           / max(8 * k, 1))
        level = max(1, min(12, int(math.log(cells_target, 4))))
    got = knn_join_cells(points, dims, k, lon_col, lat_col, dim_lon,
                         dim_lat, dim_id, point_id, level=level,
                         max_ring=max_ring, keep_dist=True)
    reach = _ring_reach(level, max_ring)
    w = Window.partitionBy(point_id)
    certified = (got.withColumn("_n", F.count(F.lit(1)).over(w))
                 .withColumn("_kth", F.max("_d2").over(w))
                 .where((F.col("_n") >= k) & F.lit(reach > 0)
                        & (F.col("_kth") <= reach * reach))
                 .drop("_d2", "_n", "_kth"))
    repaired = knn_join_broadcast(
        points.join(certified.select(point_id), point_id, "left_anti"),
        dims, k, lon_col, lat_col, dim_lon, dim_lat, dim_id, point_id)
    return certified.unionByName(repaired.select(*certified.columns))


def range_join(points: DataFrame, dims: DataFrame, radius: float,
               lon_col: str, lat_col: str, dim_lon: str, dim_lat: str) -> DataFrame:
    """B9: pairs within euclidean-degree ``radius`` (broadcast dims); a
    NULL or NaN coordinate is in no pair."""
    if not radius >= 0:
        raise ValueError(f"radius must be a number >= 0, got {radius!r}")
    return points.join(F.broadcast(dims)).where(
        _d2(lon_col, lat_col, dim_lon, dim_lat) <= radius * radius)


def distance_join_cells(left: DataFrame, right: DataFrame, radius: float,
                        lon_l: str = "lon", lat_l: str = "lat",
                        lon_r: str = "lon", lat_r: str = "lat") -> DataFrame:
    """Big-big distance join (all pairs within euclidean-degree
    ``radius``): grid both sides at the finest level whose 3×3 ring
    reaches ``radius`` (:func:`_ring_reach`), fan the LEFT side out to it
    (:func:`_ring_join`), refine with the exact distance — one shuffle
    keyed on the grid cell, 9× left duplication: the shape that survives
    when NEITHER side fits a broadcast (else :func:`range_join`). A NULL
    or NaN coordinate is in no pair.

    Every output column of ``left`` is prefixed ``l_`` and of ``right``
    ``r_`` (like :func:`spatial_join`'s pair output)."""
    if not radius >= 0:
        raise ValueError(f"radius must be a number >= 0, got {radius!r}")
    level = next((lv for lv in range(cells.MAX_LEVEL, 0, -1)
                  if _ring_reach(lv, 1) >= radius), 0)
    l2 = left.select(*[F.col(c).alias(f"l_{c}") for c in left.columns])
    r2 = right.select(*[F.col(c).alias(f"r_{c}") for c in right.columns])
    ll, rl = (f"l_{lon_l}", f"l_{lat_l}"), (f"r_{lon_r}", f"r_{lat_r}")
    return (_ring_join(l2, r2, *ll, *rl, level, 1)
            .where(_d2(*ll, *rl) <= radius * radius))


def salt_hot_cells(df: DataFrame, cell_col: str, top_n: int = 8,
                   salt_factor: int = 16) -> tuple[DataFrame, DataFrame]:
    """B13: detect the ``top_n`` densest cells (a full count of every row
    per cell) and salt them.

    Returns (salted probe df with ``_salted_cell``, hot-cell lookup df).
    Build side must explode hot cells × salt_factor to match (see
    ``explode_salts``).  AQE skew-join handles the residual.
    """
    hot = (df.groupBy(cell_col).count()
             .orderBy(F.col("count").desc()).limit(top_n)
             .select(cell_col).withColumn("_is_hot", F.lit(True)))
    # int64 salted key (cell * salt_factor + salt): string keys measured
    # ~1.5x slower end-to-end on the 96M-row skew bench (concat + string
    # hash/compare in the shuffle and join); cell ids stay < 2^45 so the
    # scaled key is ANSI-overflow-safe
    salted = (df.join(F.broadcast(hot), cell_col, "left")
                .withColumn(
                    "_salted_cell",
                    F.col(cell_col) * salt_factor
                    + F.when(F.col("_is_hot").isNotNull(),
                             (F.rand(42) * salt_factor).cast("long"))
                       .otherwise(F.lit(0)))
                .drop("_is_hot"))
    return salted, hot


def explode_salts(build: DataFrame, cell_col: str, hot: DataFrame,
                  salt_factor: int = 16) -> DataFrame:
    """Replicate build-side rows for hot cells across all salt suffixes:
    hot rows expand to salt_factor variants, cold rows keep one."""
    salts = F.array([F.lit(i).cast("long") for i in range(salt_factor)])
    variants = F.when(
        F.col("_is_hot").isNotNull(),
        F.transform(salts, lambda s: F.col(cell_col) * salt_factor + s)
    ).otherwise(F.array(F.col(cell_col) * salt_factor))
    return (build.join(F.broadcast(hot), cell_col, "left")
            .withColumn("_salted_cell", F.explode(variants))
            .drop("_is_hot"))


def compact_cells(df: DataFrame, cell_col: str = "cell_id",
                  group_cols: tuple = (), min_level: int = 0,
                  level: "int | None" = None) -> DataFrame:
    """Quadtree cover compaction (the H3 ``compact`` analog): wherever all
    FOUR children of a parent cell are present (per group), replace them by
    the parent, repeatedly, until ``min_level``. Shrinks polygon covers
    before they're broadcast/joined — a dense region collapses to a few
    coarse cells while ragged edges stay fine-grained.

    One groupBy per level step (levels are bounded, typically ≤16); each
    step's kept/promoted split is a single aggregation over the shrinking
    survivor set, so total work is O(levels) shuffles over ever-smaller
    data. Exact inverse: exploding every emitted cell back to the input
    level reproduces the input set."""
    from . import cells as C

    gcols = list(group_cols)
    lvl_expr = f"(({cell_col}) % {1 << C.LEVEL_BITS})"
    # localCheckpoint: the per-level loop below would otherwise re-plan AND
    # re-execute the full upstream (e.g. a polygon_cover) once per level
    cur = df.select(*gcols, cell_col).localCheckpoint()
    out = None
    if level is None:
        # caller didn't pin the input level; probe it (single-scalar agg)
        level = cur.selectExpr(f"max({lvl_expr}) AS l").collect()[0]["l"]
        if level is None:
            return df.limit(0)
    for _lvl in range(int(level), min_level, -1):
        at_lvl = cur.where(F.expr(f"{lvl_expr} = {_lvl}"))
        rest = cur.where(F.expr(f"{lvl_expr} != {_lvl}"))
        parent = F.expr(C.cell_parent_sql(cell_col, 1))
        counts = (at_lvl.withColumn("_p", parent)
                  .groupBy(*gcols, "_p")
                  .agg(F.count(F.lit(1)).alias("_c"),
                       F.collect_list(cell_col).alias("_kids")))
        kept = (counts.where(F.col("_c") < 4)
                .select(*gcols, F.explode("_kids").alias(cell_col)))
        promoted = (counts.where(F.col("_c") == 4)
                    .select(*gcols, F.col("_p").alias(cell_col)))
        out = kept if out is None else out.unionByName(kept)
        # truncate lineage each level: the survivor set shrinks but its
        # plan would deepen by a groupBy+union per level otherwise
        cur = rest.unionByName(promoted).localCheckpoint()
    return cur if out is None else out.unionByName(cur)
