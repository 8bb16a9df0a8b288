"""Geometry kernel tests: orientation, reference ring assembly, PIP
(incl. hypothesis property tests — SURVEY.md §5.2 item 1)."""

import numpy as np
from hypothesis import example, given, settings, strategies as st

from spark_shp import geom

CCW_SQ = np.array([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)], float)
CW_SQ = CCW_SQ[::-1].copy()


def test_orientation():
    assert geom.is_clockwise(CW_SQ)
    assert not geom.is_clockwise(CCW_SQ)


def test_zero_area_tiebreak_runs():
    # degenerate ring (all collinear) → falls to translated recompute
    line = np.array([(0, 0), (1, 1), (2, 2), (0, 0)], float)
    assert isinstance(geom.is_clockwise(line), bool)


def test_assembly_cw_starts_ccw_holes():
    outer = CW_SQ * 10
    hole = CCW_SQ * 2 + 4
    polys = geom.assemble_rings([outer, hole])
    assert len(polys) == 1 and len(polys[0]) == 2


def test_assembly_leading_ccw_starts_polygon():
    # reference polyReduce: first ring starts a polygon regardless of winding
    polys = geom.assemble_rings([CCW_SQ, CCW_SQ + 5])
    assert len(polys) == 1 and len(polys[0]) == 2
    polys2 = geom.assemble_rings([CCW_SQ, CW_SQ + 5, CCW_SQ + 5.2])
    # CCW first → poly0; CW → poly1; CCW attaches to MOST RECENT (poly1)
    assert [len(p) for p in polys2] == [1, 2]


def test_assembly_hole_binds_to_most_recent():
    polys = geom.assemble_rings([CW_SQ, CW_SQ + 10, CCW_SQ * 0.5 + 10.2])
    assert [len(p) for p in polys] == [1, 2]


def test_pip_square_with_hole():
    outer = CW_SQ * 10          # [0,10]^2
    hole = CCW_SQ * 4 + 3       # [3,7]^2
    px = np.array([5.0, 1.0, 11.0, 3.5])
    py = np.array([5.0, 1.0, 5.0, 3.5])
    got = geom.points_in_polygon(px, py, [outer, hole])
    assert got.tolist() == [False, True, False, False]


def test_pip_multipart():
    part1 = CW_SQ            # [0,1]^2
    part2 = CW_SQ + 5        # [5,6]^2
    px = np.array([0.5, 5.5, 3.0])
    py = np.array([0.5, 5.5, 3.0])
    got = geom.points_in_polygon(px, py, [part1, part2])
    assert got.tolist() == [True, True, False]


@settings(max_examples=100, deadline=None)
@given(st.floats(-50, 50), st.floats(-50, 50), st.floats(0.5, 20),
       st.floats(0.5, 20), st.floats(-80, 80), st.floats(-80, 80))
def test_pip_rectangle_matches_bbox(cx, cy, hx, hy, px, py):
    """For axis-aligned rectangles the even-odd ray-cast must agree with the
    closed-open bbox test (except exactly on the boundary — measure zero,
    excluded)."""
    ring = np.array([(cx - hx, cy - hy), (cx - hx, cy + hy),
                     (cx + hx, cy + hy), (cx + hx, cy - hy),
                     (cx - hx, cy - hy)])
    on_edge = (abs(abs(px - cx) - hx) < 1e-9) or (abs(abs(py - cy) - hy) < 1e-9)
    if on_edge:
        return
    expected = (cx - hx < px < cx + hx) and (cy - hy < py < cy + hy)
    got = bool(geom.points_in_polygon(
        np.array([px]), np.array([py]), [ring])[0])
    assert got == expected


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(st.floats(-100, 100), st.floats(-100, 100)),
                min_size=3, max_size=12))
@example(pts=[(0.0, 0.0), (1.4582697100781843, 1.5), (-1e-05, 0.0),
              (82.0, 100.0), (0.0, 0.0), (0.0, 0.0), (0.0, 0.0)])
def test_reversal_flips_orientation(pts):
    ring = np.array(pts + pts[:1], float)
    s = geom.shoelace(ring)
    if abs(s) < 1e-6:
        return
    # reversal negates every term exactly; summing mirror pairs keeps that
    assert geom.shoelace(ring[::-1].copy()) == -s
