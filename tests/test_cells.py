"""Cell index invariants (SURVEY.md §5.2 item 1) + SQL parity via DuckDB."""

import duckdb
import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from spark_shp import cells, hashing


def rand_lonlat(n=2000, seed=7):
    k = np.arange(n, dtype=np.int64) * 11 + seed
    return (hashing.u01(k) * 360.0 - 180.0,
            hashing.u01(k * 3 + 1) * 170.0 - 85.0)


def test_encode_decode_roundtrip():
    lon, lat = rand_lonlat()
    for level in (0, 1, 6, 12, 16, 20, 26):
        c = cells.cell_encode(lon, lat, level)
        assert np.all(cells.cell_level(c) == level)
        ix, iy, lvl = cells.cell_xy(c)
        qx, qy = cells.quantize(lon, lat, level)
        assert np.array_equal(ix, qx) and np.array_equal(iy, qy)


def test_parent_child_containment():
    lon, lat = rand_lonlat()
    for level in (1, 6, 12, 16):
        c = cells.cell_encode(lon, lat, level)
        p = cells.cell_parent(c)
        assert np.array_equal(p, cells.cell_encode(lon, lat, level - 1))
        ch = cells.cell_children(p)
        assert np.all((ch == c[:, None]).any(axis=1))


def test_range_contains_descendants():
    lon, lat = rand_lonlat()
    for level in (4, 10, 16):
        c = cells.cell_encode(lon, lat, level)
        lo, hi = cells.cell_range(c)
        c26 = cells.cell_encode(lon, lat, 26)
        assert np.all((c26 >= lo) & (c26 <= hi))
    # ranges of sibling cells are disjoint and contiguous in morton space
    c = cells.cell_encode(np.array([0.0]), np.array([0.0]), 8)
    ch = cells.cell_children(c)[0]
    ranges = sorted(zip(*cells.cell_range(ch)))
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2


def test_ring_neighbors():
    lon, lat = rand_lonlat(500)
    c = cells.cell_encode(lon, lat, 8)
    r1 = cells.cell_ring(c, 1)
    assert r1.shape == (500, 9)
    # self is always a member
    assert np.all((r1 == c[:, None]).any(axis=1))
    # every valid neighbor is Chebyshev-distance <= 1 in grid space
    ix, iy, _ = cells.cell_xy(c)
    for row, x0, y0 in zip(r1[:50], ix[:50], iy[:50]):
        valid = row[row >= 0]
        nx, ny, lvl = cells.cell_xy(valid)
        assert np.all(lvl == 8)
        assert np.all(np.abs(nx - x0) <= 1) and np.all(np.abs(ny - y0) <= 1)


@settings(max_examples=50, deadline=None)
@given(st.floats(-180, 179.999), st.floats(-85, 84.999),
       st.integers(0, 16))
def test_sql_matches_numpy(lon, lat, level):
    c_np = int(cells.cell_encode(np.array([lon]), np.array([lat]), level)[0])
    con = duckdb.connect()
    con.register("t", pa.table({"lon": [lon], "lat": [lat]}))
    c_sql = con.sql(
        f"SELECT {cells.cell_sql('lon', 'lat', level)} AS c FROM t"
    ).fetchone()[0]
    assert c_sql == c_np


def test_parent_sql_matches():
    lon, lat = rand_lonlat(300)
    c = cells.cell_encode(lon, lat, 12)
    con = duckdb.connect()
    con.register("t", pa.table({"c": c}))
    got = con.sql(
        f"SELECT {cells.cell_parent_sql('c', 3)} AS p FROM t"
    ).fetchnumpy()["p"].astype(np.int64)
    assert np.array_equal(got, cells.cell_parent(c, 3))


# --- identity with a bit-at-a-time reference, every level --------------------

def _ref_axis(v, shift, span, level):
    n = 1 << level
    with np.errstate(invalid="ignore"):
        return np.clip(np.floor((v + shift) / span * n), 0, n - 1).astype(
            np.int64)


def _ref_morton(ix, iy, level):
    """Interleave the low ``level`` bits one at a time."""
    m = np.zeros(ix.shape, dtype=np.int64)
    for b in range(level):
        m |= ((ix >> b) & 1) << (2 * b)
        m |= ((iy >> b) & 1) << (2 * b + 1)
    return m


def _ref_encode(lon, lat, level):
    ix = _ref_axis(lon, 180.0, 360.0, level)
    iy = _ref_axis(lat, 85.0, 170.0, level)
    return (_ref_morton(ix, iy, level) << 5) | level


def _adversarial_lonlat(level):
    """Random, non-finite, out-of-range, signed-zero, and exact cell
    boundary coordinates (with their neighbours one ulp either side)."""
    n = 1 << level
    rng = np.random.default_rng(level)
    j = np.unique(np.concatenate([[0, 1, n // 2, n - 1, n],
                                  rng.integers(0, n + 1, 50)]))
    bx = -180.0 + j * (360.0 / n)
    by = -85.0 + j * (170.0 / n)
    bx = np.concatenate([bx, np.nextafter(bx, -np.inf),
                         np.nextafter(bx, np.inf)])
    by = np.concatenate([by, np.nextafter(by, -np.inf),
                         np.nextafter(by, np.inf)])
    odd = np.array([np.nan, np.inf, -np.inf, -0.0, 0.0, 1e300, -1e300,
                    180.0, -180.0, 85.0, -85.0, 200.0, -200.0, 5e-324])
    lon = np.concatenate([rng.uniform(-190.0, 190.0, 500), bx, odd,
                          rng.permutation(odd)])
    lat = np.concatenate([rng.uniform(-95.0, 95.0, 500), by,
                          rng.permutation(odd), odd])
    return lon, lat


def test_cell_kernels_equal_bitwise_reference_at_every_level():
    for level in range(cells.MAX_LEVEL + 1):
        lon, lat = _adversarial_lonlat(level)
        ix, iy = cells.quantize(lon, lat, level)
        assert np.array_equal(ix, _ref_axis(lon, 180.0, 360.0, level))
        assert np.array_equal(iy, _ref_axis(lat, 85.0, 170.0, level))
        assert ix.dtype == iy.dtype == np.int64
        assert np.array_equal(cells.morton(ix, iy, level),
                              _ref_morton(ix, iy, level))
        c = cells.cell_encode(lon, lat, level)
        assert np.array_equal(c, _ref_encode(lon, lat, level))
        for steps in range(level + 1):
            assert np.array_equal(cells.cell_parent(c, steps),
                                  _ref_encode(lon, lat, level - steps))
        # the ring: every in-grid (dx, dy) neighbour of the cell's own
        # grid position (NaN's cell is (0, 0)), -1 off the grid
        cx = sum((((c >> (5 + 2 * b)) & 1) << b for b in range(level)),
                 np.zeros_like(c))
        cy = sum((((c >> (6 + 2 * b)) & 1) << b for b in range(level)),
                 np.zeros_like(c))
        k = 1
        ring = cells.cell_ring(c, k)
        col = 0
        for dx in range(-k, k + 1):
            for dy in range(-k, k + 1):
                nx, ny = cx + dx, cy + dy
                ok = (nx >= 0) & (ny >= 0) & (nx < 1 << level) & (
                    ny < 1 << level)
                want = np.where(ok, (_ref_morton(nx, ny, level) << 5)
                                | level, -1)
                assert np.array_equal(ring[:, col], want), (level, dx, dy)
                col += 1
