"""Differential test: every ``spatial_join`` route == numpy brute force.

Layers and points are drawn on a half-cell lattice of the join level, so
vertices sit on cell boundaries, axis-parallel (horizontal) edges are
common, rings may be open or closed, self-touching or self-crossing, and
parts carry holes. The reference is ``geom.points_in_polygon`` — the same
half-open even-odd rule — applied to every (point row, polygon) pair.
"""

from collections import Counter
from functools import reduce

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import DataFrame, functions as F, types as T

from spark_shp import geom, spatial

LAYER_SCHEMA = T.StructType([
    T.StructField("poly_id", T.LongType()),
    T.StructField("coordinates", T.ArrayType(T.ArrayType(
        T.ArrayType(T.ArrayType(T.DoubleType()))))),
    T.StructField("bbox", T.StructType([
        T.StructField(k, T.DoubleType())
        for k in ("xmin", "ymin", "xmax", "ymax")])),
])
POINT_SCHEMA = "pid bigint, lon double, lat double"
WINDOW = 4          # layer window, in cells per axis
SALT_HOT, SALT_FACTOR = 2, 4


def routes() -> dict[str, dict]:
    """spatial_join keyword sets forcing each placement, each with and
    without salting; the layer's widest polygon picks the refine."""
    base = {"broadcast": {"broadcast_cover": True},
            "distributed": {"broadcast_cover": False}}
    out = {}
    for name, kw in base.items():
        out[name] = kw
        out[name + "_salted"] = {**kw, "salt_hot": SALT_HOT,
                                 "salt_factor": SALT_FACTOR}
    return out


@st.composite
def cases(draw, kind: str):
    """(level, layer rows, point rows) on one WINDOW x WINDOW cell window."""
    level = draw(st.integers(2, 6))
    n = 1 << level
    cw, ch = 360.0 / n, 170.0 / n
    ox = draw(st.integers(0, n - WINDOW))
    oy = draw(st.integers(0, n - WINDOW))

    def lx(a):              # half-cell lattice → exact dyadic coordinates
        return -180.0 + (2 * ox + a) * cw / 2

    def ly(b):
        return -85.0 + (2 * oy + b) * ch / 2

    vertex = st.tuples(st.integers(0, 2 * WINDOW), st.integers(0, 2 * WINDOW))

    def ring(n_min, n_max):
        pts = draw(st.lists(vertex, min_size=n_min, max_size=n_max))
        r = [[lx(a), ly(b)] for a, b in pts]
        return r + r[:1] if draw(st.booleans()) else r

    layer = []
    n_polys = {"empty": 0, "single_chunk": draw(st.integers(1, 3)),
               "multi_chunk": draw(st.integers(1, 2))}[kind]
    for pid in range(n_polys):
        if kind == "multi_chunk" and pid == 0:
            parts = [[ring(spatial.MAX_INLINE_EDGES + 1, 100)]]
        else:
            parts = [[ring(3, 8) for _ in range(draw(st.integers(1, 2)))]
                     for _ in range(draw(st.integers(1, 2)))]
        xy = np.array([p for part in parts for r in part for p in r])
        layer.append((pid, parts, (float(xy[:, 0].min()),
                                   float(xy[:, 1].min()),
                                   float(xy[:, 0].max()),
                                   float(xy[:, 1].max()))))

    # quarter-cell lattice (every vertex, every cell boundary, every
    # axis-parallel edge midpoint), diagonal edge midpoints, random points
    q = np.arange(-2, 4 * WINDOW + 3) / 2
    gx, gy = np.meshgrid(lx(q), ly(q), indexing="ij")
    xs, ys = list(gx.ravel()), list(gy.ravel())
    for _, parts, _ in layer:
        for e in geom.rings_to_edges([np.array(r) for part in parts
                                      for r in part]):
            xs.append((e[0] + e[2]) / 2)
            ys.append((e[1] + e[3]) / 2)
    for _ in range(draw(st.integers(0, 20))):
        xs.append(lx(draw(st.floats(-1, 2 * WINDOW + 1))))
        ys.append(ly(draw(st.floats(-1, 2 * WINDOW + 1))))
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))]
    dups = draw(st.lists(st.sampled_from(pts), max_size=10))
    k = len(pts)
    nulls = [(k, None, 0.0), (k + 1, 0.0, None), (k + 2, None, None)]
    return level, layer, pts + dups + nulls


def brute_pairs(layer, pts) -> Counter:
    live = [p for p in pts if p[1] is not None and p[2] is not None]
    pid = np.array([p[0] for p in live], dtype=np.int64)
    px = np.array([p[1] for p in live])
    py = np.array([p[2] for p in live])
    out = Counter()
    for poly_id, parts, _ in layer:
        inside = geom.points_in_polygon(
            px, py, [np.array(r) for part in parts for r in part])
        out.update((int(p), poly_id) for p in pid[inside])
    return out


@pytest.mark.parametrize("kind", ["empty", "single_chunk", "multi_chunk"])
def test_spatial_join_routes_match_bruteforce(spark, kind):
    @settings(max_examples=4, deadline=None)
    @given(cases(kind))
    def check(case):
        level, layer, pts = case
        polys = spark.createDataFrame(layer, LAYER_SCHEMA)
        points = spark.createDataFrame(pts, POINT_SCHEMA)
        joins: list[DataFrame] = [
            spatial.spatial_join(points, polys, "lon", "lat", level=level,
                                 **kw)
            .select(F.lit(name).alias("route"), "pid", "poly_id")
            for name, kw in routes().items()]
        got = {name: Counter() for name in routes()}
        for r in reduce(DataFrame.unionByName, joins).collect():
            got[r.route][(r.pid, r.poly_id)] += 1
        want = brute_pairs(layer, pts)
        for name, pairs in got.items():
            assert pairs == want, (name, level, layer)

    check()
