"""Differential test: every kNN route == numpy brute force.

Points and dims are drawn on a half-cell lattice of the finest level
tried, so coordinates sit on cell boundaries of every level tried; the
lattice runs two cells past its window, and the window may touch the
grid's edge, so some rows lie outside the clamped grid. The draws repeat
coordinates (equal distances, ties broken by dim id), carry NULL and NaN
coordinates, may have fewer dims than k or none, and use rings too small
to certify every point, so the brute-force repair runs. The reference is
:func:`knn_brute`: squared degree distances in float64, finite ones only.

A lattice cannot put a pair at the ring's reach itself, so
:func:`test_ring_reach_is_below_every_pair_outside_the_ring` checks the
certificate's rounding margin on the closest pairs a ring leaves out.
"""

from functools import reduce

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st
from pyspark.sql import DataFrame, functions as F

from spark_shp import cells, spatial

WINDOW = 3          # lattice window, in cells of the finest level per axis
RINGS = [(0, 0), (0, 1), (1, 1), (2, 2)]   # (levels coarser, max_ring)


def local_df(spark, rows, names) -> DataFrame:
    """``rows`` of (id, x, y) as a local relation, a None kept NULL and a
    NaN kept NaN (through Arrow, so no Python worker rescans it per job)."""
    cols = list(zip(*rows)) if rows else [(), (), ()]
    return spark.createDataFrame(pa.table({
        name: pa.array(col, pa.int64() if i == 0 else pa.float64())
        for i, (name, col) in enumerate(zip(names, cols))}))


def knn_brute(pts, dims, k: int) -> set[tuple[int, int, int]]:
    """{(pid, did, knn_rank)}: each point's k dims of smallest squared
    degree distance, ties broken by dim id, over finite distances only (a
    NULL or NaN coordinate is in no pair)."""
    def col(rows, i):
        return np.array([np.nan if r[i] is None else r[i] for r in rows],
                        dtype=np.float64)

    did = np.array([d[0] for d in dims], dtype=np.int64)
    dx, dy = col(dims, 1), col(dims, 2)
    out = set()
    for pid, x, y in pts:
        ex = (np.nan if x is None else x) - dx
        ey = (np.nan if y is None else y) - dy
        d2 = ex * ex + ey * ey
        ok = np.flatnonzero(np.isfinite(d2))
        top = ok[np.lexsort((did[ok], d2[ok]))][:k]
        out.update((int(pid), int(did[j]), rank + 1)
                   for rank, j in enumerate(top))
    return out


@st.composite
def cases(draw):
    """(level, k, point rows, dim rows)."""
    level = draw(st.integers(3, 5))
    n = 1 << level
    cw, ch = 360.0 / n, 170.0 / n
    ox = draw(st.one_of(st.just(0), st.just(n - WINDOW),
                        st.integers(0, n - WINDOW)))
    oy = draw(st.one_of(st.just(0), st.just(n - WINDOW),
                        st.integers(0, n - WINDOW)))
    half = st.integers(-4, 2 * WINDOW + 4)

    def coord(origin, width, base):
        kind = draw(st.sampled_from(["lattice"] * 8 + ["null", "nan"]))
        if kind == "null":
            return None
        if kind == "nan":
            return float("nan")
        return base + (2 * origin + draw(half)) * width / 2

    def rows(n_min, n_max):
        out = [(coord(ox, cw, -180.0), coord(oy, ch, -85.0))
               for _ in range(draw(st.integers(n_min, n_max)))]
        out += draw(st.lists(st.sampled_from(out), max_size=3)) if out else []
        return [(i, x, y) for i, (x, y) in enumerate(out)]

    return level, draw(st.integers(1, 4)), rows(1, 12), rows(0, 8)


def test_knn_routes_match_bruteforce(spark):
    @settings(max_examples=12, deadline=None)
    @given(cases())
    def check(case):
        level, k, pts, dims = case
        points = local_df(spark, pts, ("pid", "lon", "lat"))
        dim_df = local_df(spark, dims, ("did", "dlon", "dlat"))
        args = (points, dim_df, k, "lon", "lat", "dlon", "dlat", "did", "pid")
        routes = {"broadcast": spatial.knn_join_broadcast(*args)}
        for up, ring in RINGS:
            routes[f"exact_l{level - up}_r{ring}"] = (
                spatial.knn_join_cells_exact(*args, level=level - up,
                                             max_ring=ring))
        joins: list[DataFrame] = [
            df.select(F.lit(name).alias("route"), "pid", "did", "knn_rank")
            for name, df in routes.items()]
        got = {name: set() for name in routes}
        n_rows = {name: 0 for name in routes}
        for r in reduce(DataFrame.unionByName, joins).collect():
            got[r.route].add((r.pid, r.did, r.knn_rank))
            n_rows[r.route] += 1
        want = knn_brute(pts, dims, k)
        for name in routes:
            assert got[name] == want and n_rows[name] == len(want), (
                name, level, k, pts, dims)

    check()


def _ordered(x: np.ndarray) -> np.ndarray:
    """float64 -> int64 keys in the same order (an involution on keys)."""
    b = x.view(np.int64)
    return np.where(b < 0, np.iinfo(np.int64).min - b, b)


def _from_key(k: np.ndarray) -> np.ndarray:
    return np.where(k < 0, np.iinfo(np.int64).min - k, k).view(np.float64)


def _cell(v: np.ndarray, axis: int, level: int) -> np.ndarray:
    """``v``'s grid index on ``axis`` (0 lon, 1 lat), as the SQL computes
    it (``cells.quantize`` is the same float64 expression)."""
    return cells.quantize(*((v, 0.0 * v) if axis == 0 else (0.0 * v, v)),
                          level)[axis]


def _first_in_cell(i: np.ndarray, axis: int, level: int) -> np.ndarray:
    """The least double whose index on ``axis`` is at least ``i`` (each
    0 < i < n), by bisection over the ordered doubles."""
    lo = _ordered(np.full(len(i), -200.0))
    hi = _ordered(np.full(len(i), 200.0))
    for _ in range(64):
        mid = (lo >> 1) + (hi >> 1) + (lo & hi & 1)
        up = _cell(_from_key(mid), axis, level) >= i
        lo, hi = np.where(up, lo, mid), np.where(up, mid, hi)
    return _from_key(hi)


def test_ring_reach_is_below_every_pair_outside_the_ring():
    """The closest pairs whose cells lie r + 1 apart, the last double of
    cell j and the first of cell j + r + 1 on either axis at every level,
    have a computed squared distance above ``_ring_reach`` squared. Without
    its rounding margin (a reach of r * 170 / n) some of them do not."""
    rng = np.random.default_rng(0)
    below_bare = 0
    for level in range(2, cells.MAX_LEVEL + 1):
        n = 1 << level
        for r in (1, 2, 3):
            if n < r + 2:
                continue
            j = rng.integers(0, n - r - 1, 40)
            reach = spatial._ring_reach(level, r)
            bare = r * (170.0 / n)
            for axis in (0, 1):
                a = np.nextafter(_first_in_cell(j + 1, axis, level), -np.inf)
                b = _first_in_cell(j + r + 1, axis, level)
                assert (_cell(a, axis, level) == j).all()
                assert (_cell(b, axis, level) == j + r + 1).all()
                d2 = (b - a) * (b - a)
                assert (d2 > reach * reach).all(), (level, r, axis)
                below_bare += int((d2 <= bare * bare).sum())
    assert below_bare > 0
