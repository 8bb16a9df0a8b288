"""Spatial operator exactness vs brute force (SURVEY.md §5.2 item 4)."""

import numpy as np
import pytest
from pyspark.sql import functions as F, types as T

from spark_shp import cells, fixtures, geom, spatial
from spark_shp.hashing import u01

N_PTS = 3000


@pytest.fixture(scope="module")
def points_df(spark):
    k = np.arange(N_PTS, dtype=np.int64)
    lon = u01(k * 17 + 3) * 360.0 - 180.0
    lat = u01(k * 17 + 5) * 170.0 - 85.0
    import pandas as pd
    return spark.createDataFrame(
        pd.DataFrame({"pid": k, "lon": lon, "lat": lat}))


def brute_pairs(m=64):
    k = np.arange(N_PTS, dtype=np.int64)
    lon = u01(k * 17 + 3) * 360.0 - 180.0
    lat = u01(k * 17 + 5) * 170.0 - 85.0
    expect = set()
    for j in range(m):
        inside = geom.points_in_polygon(lon, lat, fixtures.fence_rings(j))
        for p in k[inside]:
            expect.add((int(p), j))
    return expect


def test_tile_assign_matches_numpy(spark, points_df):
    got = spatial.tile_assign(points_df, "lon", "lat", 12).collect()
    k = np.arange(N_PTS, dtype=np.int64)
    lon = u01(k * 17 + 3) * 360.0 - 180.0
    lat = u01(k * 17 + 5) * 170.0 - 85.0
    expect = dict(zip(k.tolist(),
                      cells.cell_encode(lon, lat, 12).tolist()))
    for r in got:
        assert r.cell_id == expect[r.pid]


def test_spatial_join_exact_vs_bruteforce(spark, points_df):
    """Engine spatial join (cell cover + PIP refine) == O(n·m) numpy truth,
    on fences WITH holes and multi-part polygons."""
    polys = fixtures.fences_df(spark, 64).drop("layer", "name")
    got = {(r.pid, r.poly_id) for r in
           spatial.spatial_join(points_df, polys, "lon", "lat",
                                level=6).select("pid", "poly_id").collect()}
    assert got == brute_pairs()


def test_spatial_join_level_invariance(spark, points_df):
    """Join output must not depend on the index level (cover is only a
    candidate filter; PIP decides)."""
    polys = fixtures.fences_df(spark, 16).drop("layer", "name")
    a = {(r.pid, r.poly_id) for r in
         spatial.spatial_join(points_df, polys, "lon", "lat",
                              level=4).select("pid", "poly_id").collect()}
    b = {(r.pid, r.poly_id) for r in
         spatial.spatial_join(points_df, polys, "lon", "lat",
                              level=7).select("pid", "poly_id").collect()}
    assert a == b


def test_knn_cells_matches_broadcast(spark, points_df):
    """Cell-ring kNN == brute-force broadcast kNN when max_ring covers the
    neighborhood (64 fence centers, level 3, ring 4 ≈ half the grid)."""
    import pandas as pd
    j = np.arange(64)
    params = [fixtures.fence_params(int(x)) for x in j]
    dims = spark.createDataFrame(pd.DataFrame({
        "fid": j, "dlon": [p[0] for p in params],
        "dlat": [p[1] for p in params]}))
    pts = points_df.where(F.col("pid") % 30 == 0)
    want = {(r.pid, r.fid, r.knn_rank) for r in spatial.knn_join_broadcast(
        pts, dims, 3, "lon", "lat", "dlon", "dlat", "fid", "pid").collect()}
    got = {(r.pid, r.fid, r.knn_rank) for r in spatial.knn_join_cells(
        pts, dims, 3, "lon", "lat", "dlon", "dlat", "fid", "pid",
        level=3, max_ring=4).collect()}
    # cell kNN is correct where the ring bound holds; require exact equality
    # of the top-3 sets here because ring 4 at level 3 spans ±180° of grid
    assert got == want


def test_salting_preserves_join_results(spark, points_df):
    """Hot-cell salted join == plain join (B13 is physical, not logical)."""
    pts = spatial.tile_assign(points_df, "lon", "lat", 4)
    # build side: distinct cells → tag
    build = pts.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_in_cell"))
    plain = {(r.pid, r.n_in_cell) for r in
             pts.join(build, "cell_id").select("pid", "n_in_cell").collect()}
    salted_probe, hot = spatial.salt_hot_cells(pts, "cell_id", top_n=4,
                                               salt_factor=8)
    salted_build = spatial.explode_salts(build, "cell_id", hot.withColumn(
        "_is_hot", F.lit(True)), salt_factor=8)
    got = {(r.pid, r.n_in_cell) for r in salted_probe.join(
        salted_build.select("_salted_cell", "n_in_cell"),
        "_salted_cell").select("pid", "n_in_cell").collect()}
    assert got == plain


def test_explain_tile_assign_is_codegen(spark, points_df):
    """Tile assignment must stay JVM-side: no Python eval in the plan."""
    plan = (spatial.tile_assign(points_df, "lon", "lat", 12)
            ._jdf.queryExecution().toString())
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_explain_spatial_join_inline_is_pure_jvm(spark, points_df):
    """Flagship join plan shape (BENCH finding #1): the broadcast-cover
    inline path must be ONE BroadcastHashJoin with the ray-cast parity as
    its condition and ZERO Python operators — a mapInPandas refine here
    oversubscribes executors and inverted the scaling curve."""
    polys = fixtures.fences_df(spark, 8).drop("layer", "name")
    j = spatial.spatial_join(points_df, polys, "lon", "lat", level=6)
    plan = j._jdf.queryExecution().executedPlan().toString()
    for banned in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                   "FlatMapGroupsInPandas"):
        assert banned not in plan, f"Python stage {banned} in inline join"
    assert "BroadcastHashJoin" in plan
    # >64-edge layers take the chunked crossing sum: still no Python
    import pandas as pd
    import math
    ring = [[math.cos(2 * math.pi * k / 100) * 5 + 10,
             math.sin(2 * math.pi * k / 100) * 5] for k in range(101)]
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("poly_id", T.LongType()),
        T.StructField("coordinates", T.ArrayType(T.ArrayType(
            T.ArrayType(T.ArrayType(T.DoubleType()))))),
        T.StructField("bbox", T.StructType([
            T.StructField(k, T.DoubleType())
            for k in ("xmin", "ymin", "xmax", "ymax")])),
    ])
    big = spark.createDataFrame([(0, [[ring]], (5.0, -5.0, 15.0, 5.0))],
                                schema)
    plan2 = (spatial.spatial_join(points_df, big, "lon", "lat", level=6)
             ._jdf.queryExecution().executedPlan().toString())
    for banned in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                   "FlatMapGroupsInPandas"):
        assert banned not in plan2, f"Python stage {banned} in chunked join"


def test_explain_knn_and_distance_join_are_pure_jvm(spark, points_df):
    """The kNN ring and the distance join fan out in SQL: no Python
    operator in either plan, and the exact kNN certifies from one window,
    with no dropDuplicates or per-point groupBy aggregate."""
    import pandas as pd
    dims = spark.createDataFrame(pd.DataFrame({
        "fid": np.arange(25), "dlon": np.linspace(-170.0, 170.0, 25),
        "dlat": np.linspace(-80.0, 80.0, 25)}))
    knn = spatial.knn_join_cells_exact(points_df, dims, 3, "lon", "lat",
                                       "dlon", "dlat", "fid", "pid",
                                       level=3, max_ring=1)
    pairs = spatial.distance_join_cells(points_df, points_df, 2.0)
    for name, df in (("knn", knn), ("distance", pairs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for banned in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert banned not in plan, f"Python stage {banned} in {name}"
        if name == "knn":
            assert "HashAggregate" not in plan


def test_distributed_inline_join_matches_broadcast(spark, points_df,
                                                   monkeypatch):
    """Both placements and both refines produce identical pairs: broadcast
    parity filter, distributed parity filter, and distributed chunked sum
    (forced by a 4-edge chunk width on the same fences)."""
    polys = fixtures.fences_df(spark, 16).drop("layer", "name")
    want = {(r.pid, r.poly_id) for r in spatial.spatial_join(
        points_df, polys, "lon", "lat", level=6).select(
        "pid", "poly_id").collect()}
    distributed = {(r.pid, r.poly_id) for r in spatial.spatial_join(
        points_df, polys, "lon", "lat", level=6,
        broadcast_cover=False).select("pid", "poly_id").collect()}
    monkeypatch.setattr(spatial, "MAX_INLINE_EDGES", 4)
    chunked = {(r.pid, r.poly_id) for r in spatial.spatial_join(
        points_df, polys, "lon", "lat", level=6,
        broadcast_cover=False).select("pid", "poly_id").collect()}
    assert want == distributed == chunked and len(want) > 0


def test_distributed_inline_join_salted_matches(spark, points_df):
    """B13 composed with the distributed placement: salted == unsalted."""
    polys = fixtures.fences_df(spark, 16).drop("layer", "name")
    plain = {(r.pid, r.poly_id) for r in spatial.spatial_join(
        points_df, polys, "lon", "lat", level=6,
        broadcast_cover=False).select("pid", "poly_id").collect()}
    salted = {(r.pid, r.poly_id) for r in spatial.spatial_join(
        points_df, polys, "lon", "lat", level=6, broadcast_cover=False,
        salt_hot=4, salt_factor=8).select("pid", "poly_id").collect()}
    assert salted == plain and len(plain) > 0


def test_auto_route_probe_and_paths(spark, points_df, monkeypatch):
    """broadcast_cover=None auto-routes: small layer → broadcast placement
    (no Python, BroadcastHashJoin); layer above the threshold →
    distributed placement (no broadcast of the layer, still no Python
    refine). Results identical either way."""
    polys = fixtures.fences_df(spark, 16).drop("layer", "name")
    n, max_e, _ = spatial._probe_layer(polys, 6)
    assert n == 16 and 4 <= max_e <= 16

    want = {(r.pid, r.poly_id) for r in spatial.spatial_join(
        points_df, polys, "lon", "lat", level=6,
        broadcast_cover=True).select("pid", "poly_id").collect()}

    auto_small = spatial.spatial_join(points_df, polys, "lon", "lat", level=6)
    plan = auto_small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "MapInPandas" not in plan
    got = {(r.pid, r.poly_id)
           for r in auto_small.select("pid", "poly_id").collect()}
    assert got == want and len(want) > 0

    monkeypatch.setattr(spatial, "AUTO_BROADCAST_MAX_POLYS", 4)
    auto_big = spatial.spatial_join(points_df, polys, "lon", "lat", level=6)
    plan2 = auto_big._jdf.queryExecution().executedPlan().toString()
    # distributed placement: the cover is built by a MapInPandas stage
    # (the broadcast placement has none anywhere), and the parity refine
    # stays a codegen Filter — no grouped-Python refine
    assert "MapInPandas" in plan2
    assert "FlatMapGroupsInPandas" not in plan2
    got2 = {(r.pid, r.poly_id)
            for r in auto_big.select("pid", "poly_id").collect()}
    assert got2 == want


def test_empty_edge_layer_returns_empty(spark, points_df):
    """ADVICE r1: a layer whose polygons all have empty coordinates made
    the inline path emit the unparseable predicate '() % 2 = 1'."""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("poly_id", T.LongType()),
        T.StructField("coordinates", T.ArrayType(T.ArrayType(
            T.ArrayType(T.ArrayType(T.DoubleType()))))),
        T.StructField("bbox", T.StructType([
            T.StructField(k, T.DoubleType())
            for k in ("xmin", "ymin", "xmax", "ymax")])),
    ])
    empty = spark.createDataFrame([(0, [], (0.0, 0.0, 1.0, 1.0))], schema)
    out = spatial.spatial_join(points_df, empty, "lon", "lat", level=6,
                               broadcast_cover=True)
    assert out.count() == 0
    assert "poly_id" in out.columns


def _circle_layer(spark, n_edges=101, cx=10.0, cy=0.0, r=40.0, pid=0):
    import math
    from pyspark.sql import types as T
    ring = [[math.cos(2 * math.pi * k / n_edges) * r + cx,
             math.sin(2 * math.pi * k / n_edges) * r + cy]
            for k in range(n_edges + 1)]
    schema = T.StructType([
        T.StructField("poly_id", T.LongType()),
        T.StructField("coordinates", T.ArrayType(T.ArrayType(
            T.ArrayType(T.ArrayType(T.DoubleType()))))),
        T.StructField("bbox", T.StructType([
            T.StructField(k, T.DoubleType())
            for k in ("xmin", "ymin", "xmax", "ymax")])),
    ])
    return spark.createDataFrame(
        [(pid, [[ring]], (cx - r, cy - r, cx + r, cy + r))], schema)


def test_chunked_distributed_inline_matches_arrow(spark, points_df):
    """Crossings are additive over edge chunks: the chunked refine on the
    distributed placement must equal the broadcast placement on a
    >64-edge polygon, with no Python refine stage and no layer collect."""
    big = _circle_layer(spark, n_edges=101)
    want = {(r.pid, r.poly_id) for r in spatial.spatial_join(
        points_df, big, "lon", "lat", level=6,
        broadcast_cover=True).select("pid", "poly_id").collect()}
    assert len(want) > 0
    chunked = spatial.spatial_join(
        points_df, big, "lon", "lat", level=6, broadcast_cover=False)
    got = {(r.pid, r.poly_id)
           for r in chunked.select("pid", "poly_id").collect()}
    assert got == want
    plan = chunked._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan     # no grouped-Python refine
    # chunked + salted composes
    salted = spatial.spatial_join(
        points_df, big, "lon", "lat", level=6, broadcast_cover=False,
        salt_hot=4, salt_factor=8)
    got_s = {(r.pid, r.poly_id)
             for r in salted.select("pid", "poly_id").collect()}
    assert got_s == want
    # output columns: original point columns + poly_id, no transient keys
    assert chunked.columns == points_df.columns + ["poly_id"]


def test_auto_route_big_layer_many_edges_goes_chunked(spark, points_df,
                                                      monkeypatch):
    """Auto-route: a layer above the broadcast threshold whose polygons
    exceed MAX_INLINE_EDGES must take the chunked distributed path (round 1
    fell back to a Python refine that collected the whole layer
    driver-side)."""
    big = _circle_layer(spark, n_edges=101)
    monkeypatch.setattr(spatial, "AUTO_BROADCAST_MAX_POLYS", 0)
    auto = spatial.spatial_join(points_df, big, "lon", "lat", level=6)
    want = {(r.pid, r.poly_id) for r in spatial.spatial_join(
        points_df, big, "lon", "lat", level=6,
        broadcast_cover=True).select("pid", "poly_id").collect()}
    got = {(r.pid, r.poly_id)
           for r in auto.select("pid", "poly_id").collect()}
    assert got == want and len(want) > 0
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan


def test_probe_layer_counts_wrap_edges(spark, monkeypatch):
    """_probe_layer counts edges as geom.rings_to_edges builds them: an
    open ring gets its wrap edge. It used to count Σ(len-1), so an open
    4-vertex square probed as 3 edges and the distributed placement,
    sized from the probe, rejected the polygon."""
    square = [[0.0, 0.0], [0.0, 20.0], [20.0, 20.0], [20.0, 0.0]]
    closed = [[40.0, 0.0], [40.0, 10.0], [50.0, 10.0], [40.0, 0.0]]
    schema = T.StructType([
        T.StructField("poly_id", T.LongType()),
        T.StructField("coordinates", T.ArrayType(T.ArrayType(
            T.ArrayType(T.ArrayType(T.DoubleType()))))),
        T.StructField("bbox", T.StructType([
            T.StructField(k, T.DoubleType())
            for k in ("xmin", "ymin", "xmax", "ymax")])),
    ])
    polys = spark.createDataFrame(
        [(0, [[square]], (0.0, 0.0, 20.0, 20.0)),
         (1, [[closed], [square]], (0.0, 0.0, 50.0, 20.0))], schema)
    assert spatial._probe_layer(polys, 6)[:2] == (2, 7)
    assert [len(geom.rings_to_edges([np.array(r)])) for r in
            (square, closed)] == [4, 3]

    gx, gy = np.meshgrid(np.arange(-1.25, 52, 2.5), np.arange(-1.25, 22, 2.5))
    pts = spark.createDataFrame([(i, float(x), float(y)) for i, (x, y) in
                                 enumerate(zip(gx.ravel(), gy.ravel()))],
                                "pid bigint, lon double, lat double")
    want = {(r.pid, r.poly_id) for r in spatial.spatial_join(
        pts, polys, "lon", "lat", level=6,
        broadcast_cover=True).select("pid", "poly_id").collect()}
    monkeypatch.setattr(spatial, "AUTO_BROADCAST_MAX_POLYS", 0)
    got = {(r.pid, r.poly_id) for r in spatial.spatial_join(
        pts, polys, "lon", "lat", level=6).select(
        "pid", "poly_id").collect()}
    assert got == want and {p for _, p in want} == {0, 1}


def test_polygon_cover_edges_splits_wide_polygons(spark):
    """polygon_cover_edges keeps its (poly_id, cell_id, edge columns) rows.
    Each cell carries, without repeats, every edge of its polygon that a
    ray cast east from a point of the cell can cross (its y-range meets
    the cell's band and its east end reaches the cell's west side); a cell
    with more than max_edges of them spreads them over one row per edge
    chunk."""
    big = _circle_layer(spark, n_edges=101)
    ring = np.array(big.collect()[0].coordinates[0][0])
    edges = geom.rings_to_edges([ring])
    rows_per_cell = []
    for level in (1, 3):
        cover = spatial.polygon_cover_edges(big, level, 64)
        assert cover.columns == (["poly_id", "cell_id"]
                                 + [f"_ej{i}_{k}" for i in range(64)
                                    for k in ("x1", "y1", "x2", "y2")])
        tables = {}
        for r in cover.collect():
            tables.setdefault(r.cell_id, []).append(
                np.array(r[2:]).reshape(64, 4))
        n = 1 << level
        ix, iy = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
        ix, iy = ix.ravel(), iy.ravel()
        ids = (cells.morton(ix, iy, level) << cells.LEVEL_BITS) | level
        for cell, t in tables.items():
            got = np.vstack(t)
            got = got[np.any(got != 0, axis=1)]
            assert len(np.unique(got, axis=0)) == len(got)
            assert all((edges == g).all(axis=1).any() for g in got)
            j = int(np.nonzero(ids == cell)[0][0])
            cx0 = -180.0 + ix[j] * 360.0 / n
            cy0, cy1 = (-85.0 + iy[j] * 170.0 / n,
                        -85.0 + (iy[j] + 1) * 170.0 / n)
            must = edges[(np.maximum(edges[:, 1], edges[:, 3]) > cy0)
                         & (np.minimum(edges[:, 1], edges[:, 3]) < cy1)
                         & (np.maximum(edges[:, 0], edges[:, 2]) > cx0)]
            assert all((got == m).all(axis=1).any() for m in must)
            rows_per_cell.append(len(t))
    assert max(rows_per_cell) == 2


def test_cover_rows_keep_every_crossable_edge():
    """Each cover row keeps only the edges a ray cast east from its cell can
    cross. Summing geom.crossings over a point's cell rows must give the
    parity of geom.points_in_polygon, for random star polygons of 3-300
    edges (some vertices snapped to cell corners, some past the grid's
    clamped borders) against a half-cell lattice, the vertices and random
    points, at levels 2-7."""
    rng = np.random.default_rng(7)
    for _ in range(24):
        level = int(rng.integers(2, 8))
        w, h = 360.0 / (1 << level), 170.0 / (1 << level)
        rings = []
        for _ in range(3):
            m = int(rng.integers(3, 300))
            th = np.sort(rng.uniform(0, 2 * np.pi, m))
            r = rng.uniform(2, 30) * rng.uniform(0.3, 1, m)
            ring = np.stack([rng.uniform(-190, 190) + r * np.cos(th),
                             rng.uniform(-90, 90) + r * np.sin(th)], 1)
            snap = rng.random(m) < 0.3
            ring[snap, 0] = np.round((ring[snap, 0] + 180) / w) * w - 180
            ring[snap, 1] = np.round((ring[snap, 1] + 85) / h) * h - 85
            rings.append(ring)
        edges = [geom.rings_to_edges([r]) for r in rings]
        max_e = max(map(len, edges))
        width = min(max_e, spatial.MAX_INLINE_EDGES)
        cover = spatial._cover_rows(
            range(3), [dict(xmin=r[:, 0].min(), ymin=r[:, 1].min(),
                            xmax=r[:, 0].max(), ymax=r[:, 1].max())
                       for r in rings], edges, level, width, max_e > width)
        gx, gy = np.meshgrid(np.arange(0, 361, w / 2) - 180,
                             np.arange(0, 171, h / 2) - 85)
        px = np.concatenate([gx.ravel(), *(r[:, 0] for r in rings),
                             rng.uniform(-200, 200, 2000)])
        py = np.concatenate([gy.ravel(), *(r[:, 1] for r in rings),
                             rng.uniform(-100, 100, 2000)])
        cell = cells.cell_encode(px, py, level)
        tables = cover[spatial._edge_cols(width)].to_numpy().reshape(
            len(cover), width, 4)
        for pid, ring in enumerate(rings):
            got = np.zeros(len(px), dtype=np.int64)
            for c, t in zip(cover["cell_id"][cover["poly_id"] == pid],
                            tables[cover["poly_id"] == pid]):
                sel = cell == c
                got[sel] += geom.crossings(px[sel], py[sel], t)
            want = geom.points_in_polygon(px, py, [ring])
            assert np.array_equal(got % 2 == 1, want)


def test_knn_exact_repairs_undersized_ring(spark, points_df):
    """knn_join_cells_exact == brute force EVEN when the ring is sized too
    small for plain knn_join_cells to be correct (certify-or-repair), and
    with auto-sized level."""
    import pandas as pd
    j = np.arange(64)
    params = [fixtures.fence_params(int(x)) for x in j]
    dims = spark.createDataFrame(pd.DataFrame({
        "fid": j, "dlon": [p[0] for p in params],
        "dlat": [p[1] for p in params]}))
    pts = points_df.where(F.col("pid") % 10 == 0)
    want = {(r.pid, r.fid, r.knn_rank) for r in spatial.knn_join_broadcast(
        pts, dims, 3, "lon", "lat", "dlon", "dlat", "fid", "pid").collect()}
    # deliberately undersized: level 5, ring 1 — the plain cells join WILL
    # miss neighbors here; exact must repair to brute-force equality
    plain = {(r.pid, r.fid, r.knn_rank) for r in spatial.knn_join_cells(
        pts, dims, 3, "lon", "lat", "dlon", "dlat", "fid", "pid",
        level=5, max_ring=1).collect()}
    assert plain != want          # the sizing really is too small
    got = {(r.pid, r.fid, r.knn_rank) for r in spatial.knn_join_cells_exact(
        pts, dims, 3, "lon", "lat", "dlon", "dlat", "fid", "pid",
        level=5, max_ring=1).collect()}
    assert got == want
    # auto-sized level (level=None probes the dim count)
    auto = {(r.pid, r.fid, r.knn_rank) for r in spatial.knn_join_cells_exact(
        pts, dims, 3, "lon", "lat", "dlon", "dlat", "fid", "pid").collect()}
    assert auto == want


def test_distance_join_cells_matches_bruteforce(spark):
    """Cell-bucketed distance join == numpy brute force on random points,
    including pairs that straddle grid-cell boundaries."""
    import numpy as np
    import pandas as pd
    from spark_shp import spatial

    rng = np.random.default_rng(11)
    n_l, n_r, radius = 300, 250, 2.5
    lons_l = rng.uniform(-20, 20, n_l); lats_l = rng.uniform(-15, 15, n_l)
    lons_r = rng.uniform(-20, 20, n_r); lats_r = rng.uniform(-15, 15, n_r)
    left = spark.createDataFrame(pd.DataFrame(
        {"id": np.arange(n_l), "lon": lons_l, "lat": lats_l}))
    right = spark.createDataFrame(pd.DataFrame(
        {"id": np.arange(n_r), "lon": lons_r, "lat": lats_r}))
    got = sorted((r.l_id, r.r_id) for r in
                 spatial.distance_join_cells(left, right, radius).collect())
    d2 = ((lons_l[:, None] - lons_r[None, :]) ** 2
          + (lats_l[:, None] - lats_r[None, :]) ** 2)
    want = sorted(map(tuple, np.argwhere(d2 <= radius * radius)))
    assert got == want and len(want) > 100


def test_distance_join_cells_empty_and_tiny_radius(spark):
    """Empty right side → empty result with pair schema; radius smaller
    than any gap → no pairs (grid level clamps sanely)."""
    import numpy as np
    import pandas as pd
    from spark_shp import spatial

    left = spark.createDataFrame(pd.DataFrame(
        {"id": [0, 1], "lon": [0.0, 10.0], "lat": [0.0, 10.0]}))
    empty = spark.createDataFrame([], "id bigint, lon double, lat double")
    out = spatial.distance_join_cells(left, empty, 1.0)
    assert out.count() == 0
    assert set(out.columns) == {"l_id", "l_lon", "l_lat",
                                "r_id", "r_lon", "r_lat"}
    tiny = spatial.distance_join_cells(left, left, 1e-6)
    # only self-pairs at distance 0 survive a tiny radius
    assert sorted((r.l_id, r.r_id) for r in tiny.collect()) == [(0, 0),
                                                                (1, 1)]


def test_null_and_nan_coordinates_join_nothing(spark):
    """A point or dim with a NULL or NaN coordinate is in no pair, on
    every kNN route and in both distance joins; the other rows get the
    brute force over finite distances."""
    from tests.test_knn_differential import knn_brute, local_df
    nan = float("nan")
    pts = [(0, 0.0, 0.0), (1, 3.0, 1.0), (2, None, 5.0), (3, 2.0, nan)]
    dims = [(0, None, 0.0), (1, 1.0, nan), (2, 2.0, 2.0), (3, 1.0, 0.0),
            (4, -4.0, 1.0)]
    p = local_df(spark, pts, ("pid", "lon", "lat"))
    d = local_df(spark, dims, ("did", "dlon", "dlat"))
    args = (p, d, 2, "lon", "lat", "dlon", "dlat", "did", "pid")
    want = knn_brute(pts, dims, 2)
    assert {r[0] for r in want} == {0, 1}
    routes = {"broadcast": spatial.knn_join_broadcast(*args),
              "cells": spatial.knn_join_cells(*args, level=2, max_ring=2),
              "exact": spatial.knn_join_cells_exact(*args, level=2,
                                                    max_ring=1)}
    for name, df in routes.items():
        rows = df.collect()
        assert {(r.pid, r.did, r.knn_rank) for r in rows} == want, name
        assert len(rows) == len(want), name
    near = spatial.range_join(p, d, 1e9, "lon", "lat", "dlon", "dlat")
    assert {(r.pid, r.did) for r in near.collect()} == {
        (i, j) for i in (0, 1) for j in (2, 3, 4)}
    dj = spatial.distance_join_cells(p, d.toDF("pid", "lon", "lat"), 1e9)
    assert {(r.l_pid, r.r_pid) for r in dj.collect()} == {
        (i, j) for i in (0, 1) for j in (2, 3, 4)}


def test_radius_is_validated_and_zero_keeps_coincident_pairs(spark):
    """A negative or NaN radius raises a ValueError naming it (range_join
    used to return the pairs within |radius|; distance_join_cells raised
    ZeroDivisionError or a math domain error); radius 0 returns exactly
    the coincident pairs."""
    import math
    p = spark.createDataFrame([(0, 1.0, 2.0), (1, 1.0, 2.0),
                               (2, 1.0, 2.0 + 1e-12), (3, -3.0, 4.0)],
                              "id bigint, lon double, lat double")
    for bad in (-1.0, math.nan):
        with pytest.raises(ValueError, match="radius"):
            spatial.range_join(p, p.toDF("j", "dlon", "dlat"), bad,
                               "lon", "lat", "dlon", "dlat")
        with pytest.raises(ValueError, match="radius"):
            spatial.distance_join_cells(p, p, bad)
    want = {(0, 0), (0, 1), (1, 0), (1, 1), (2, 2), (3, 3)}
    zero = spatial.range_join(p, p.toDF("j", "dlon", "dlat"), 0.0,
                              "lon", "lat", "dlon", "dlat")
    assert {(r.id, r.j) for r in zero.collect()} == want
    zero = spatial.distance_join_cells(p, p, 0.0)
    assert {(r.l_id, r.r_id) for r in zero.collect()} == want


def test_auto_route_bounds_the_broadcast_cover_bytes(spark, points_df,
                                                     monkeypatch):
    """The probe's cover size is the size of the rows _cover_rows builds,
    8 B per column, on a single-chunk layer, and bounds it from above on a
    chunked one, at two levels. The auto route broadcasts a layer whose
    probed cover takes exactly AUTO_BROADCAST_MAX_BYTES and builds one a
    byte bigger distributed: a few wide polygons over many cells pass the
    polygon-count bound with a cover of any size."""
    narrow = fixtures.fences_df(spark, 16).drop("layer", "name")
    wide = _circle_layer(spark, n_edges=101).unionByName(_circle_layer(
        spark, n_edges=300, cx=-60.0, cy=10.0, r=15.0, pid=1))
    for polys in (narrow, wide):
        rows = polys.collect()
        edges = [spatial._polygon_edges(r["coordinates"]) for r in rows]
        max_e = max(map(len, edges))
        for level in (6, 7):
            cover = spatial._cover_rows(
                [r["poly_id"] for r in rows], [r["bbox"] for r in rows],
                edges, level, min(max_e, spatial.MAX_INLINE_EDGES),
                max_e > spatial.MAX_INLINE_EDGES)
            n, probed_e, probed_bytes = spatial._probe_layer(polys, level)
            assert (n, probed_e) == (len(rows), max_e)
            if max_e > spatial.MAX_INLINE_EDGES:
                assert cover.size * 8 <= probed_bytes
            else:
                assert cover.size * 8 == probed_bytes

    def placement(bound):
        monkeypatch.setattr(spatial, "AUTO_BROADCAST_MAX_BYTES", bound)
        j = spatial.spatial_join(points_df, wide, "lon", "lat", level=6)
        plan = j._jdf.queryExecution().executedPlan().toString()
        pairs = {(r.pid, r.poly_id) for r in j.select("pid", "poly_id")
                 .collect()}
        return "MapInPandas" in plan, pairs

    at_bound = spatial._probe_layer(wide, 6)[2]
    (built_at, got_at), (built_over, got_over) = (placement(at_bound),
                                                  placement(at_bound - 1))
    assert (built_at, built_over) == (False, True)
    assert got_at == got_over and {p for _, p in got_at} == {0, 1}


def test_big_broadcast_cover_is_not_a_local_relation(spark, points_df,
                                                     monkeypatch):
    """A broadcast cover above COVER_LOCAL_MAX_BYTES reaches the plan
    through an RDD, not as a LocalRelation that a BroadcastHashJoin outside
    whole-stage codegen ships to every task; the pairs are the same and
    the session's Arrow local-relation threshold is left as it was."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    before = spark.conf.get(key)
    polys = fixtures.fences_df(spark, 16).drop("layer", "name")

    def join():
        j = spatial.spatial_join(points_df, polys, "lon", "lat", level=6,
                                 broadcast_cover=True)
        plan = j._jdf.queryExecution().executedPlan().toString()
        return ("LocalTableScan [poly_id" in plan,
                {(r.pid, r.poly_id) for r in j.select("pid", "poly_id")
                 .collect()})

    local, want = join()
    monkeypatch.setattr(spatial, "COVER_LOCAL_MAX_BYTES", 0)
    rdd_local, got = join()
    assert (local, rdd_local) == (True, False)
    assert got == want and len(want) > 0
    assert spark.conf.get(key) == before
