"""Geometry kernels: shoelace orientation, reference ring assembly, ray-cast
point-in-polygon. Pure numpy — no Spark imports — so they unit-test standalone
and embed in Arrow UDFs.

Reference semantics reconstructed from upstream shpjs (`lib/parseShp.js:≈1–40`
``isClockWise``/``polyReduce`` [RECONSTRUCTED — see SURVEY.md §0]):

* Orientation: ring is CLOCKWISE iff the shoelace sum
  ``Σ (x_i − x_{i−1}) · (y_i + y_{i−1})`` is positive.  If the sum is exactly
  0 (degenerate / float-cancelled), recompute on coordinates translated to the
  ring-bbox midpoint (the reference's float-precision guard).
* Assembly (``polyReduce``): scan rings in FILE ORDER; a clockwise ring —
  or the very first ring regardless of winding — starts a new polygon; any
  other ring is appended as a hole of the MOST RECENT polygon.  This is
  order-dependent, not point-set topology; we replicate it literally
  (SURVEY.md §7 hard-part 1; BASELINE.json "ring-winding disambiguation").

PIP rule (engine + DuckDB oracle + brute-force checker all use the identical
half-open crossing test — SURVEY.md §7 hard-part 3):

    crossing iff (y1 > py) != (y2 > py)
                 and px < x1 + (py − y1) · (x2 − x1) / (y2 − y1)

A point is inside a (multi)polygon iff its total crossing parity over ALL
rings (outers and holes alike) is odd — even-odd rule; holes flip parity.
"""

from __future__ import annotations

import numpy as np


def shoelace(ring: np.ndarray) -> float:
    """Signed doubled area, reference convention: positive == clockwise.

    ``ring``: (n, 2) float64 array of xy vertices (closed or open — the wrap
    edge from the last vertex to the first is included either way; a closed
    ring's duplicate edge contributes 0). Each term is added to its mirror,
    the term that reversing the ring turns it into (negated), before the
    sum: a reversed ring then sums exactly the negated pairs in the same
    order, so its area is exactly the negation, sign included, even for
    near-degenerate rings.
    """
    ring = np.asarray(ring, dtype=np.float64)
    prev = np.concatenate((ring[-1:], ring[:-1]))       # vertex i - 1
    t = (ring[:, 0] - prev[:, 0]) * (ring[:, 1] + prev[:, 1])
    return float((t + np.concatenate((t[:1], t[:0:-1]))).sum()) / 2.0


def is_clockwise(ring: np.ndarray) -> bool:
    """Reference ``isClockWise`` with the zero-area translation tie-break.
    An empty ring has no area and no midpoint: it is not clockwise."""
    s = shoelace(ring)
    if s == 0.0 and len(ring):
        ring = np.asarray(ring, dtype=np.float64)
        mid = (ring.min(axis=0) + ring.max(axis=0)) / 2.0
        s = shoelace(ring - mid)
    return s > 0.0


def assemble_rings(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Reference ``polyReduce``: rings (file order) → list of polygons, each
    a list [outer, hole, hole, ...]. First ring always starts a polygon."""
    polys: list[list[np.ndarray]] = []
    for ring in rings:
        if not polys or is_clockwise(ring):
            polys.append([ring])
        else:
            polys[-1].append(ring)
    return polys


def ring_bbox(ring: np.ndarray) -> tuple[float, float, float, float]:
    ring = np.asarray(ring, dtype=np.float64)
    return (float(ring[:, 0].min()), float(ring[:, 1].min()),
            float(ring[:, 0].max()), float(ring[:, 1].max()))


def crossings(px: np.ndarray, py: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """Ray-cast crossing counts for a batch of points against a batch of
    edges. ``px``/``py``: (n,) points; ``edges``: (m, 4) rows (x1,y1,x2,y2).
    Returns (n,) int64 total crossings — O(n·m) vectorized.
    """
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    e = np.asarray(edges, dtype=np.float64)
    x1, y1, x2, y2 = e[None, :, 0], e[None, :, 1], e[None, :, 2], e[None, :, 3]
    straddle = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xin = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    hit = straddle & (px < xin)
    return hit.sum(axis=1, dtype=np.int64)


def crossings_chunked(px: np.ndarray, py: np.ndarray, edges: np.ndarray,
                      target_cells: int = 524288) -> np.ndarray:
    """:func:`crossings` over bounded point chunks. The kernel materializes
    an (n_points, n_edges) float64 intermediate; on many points that
    intermediate leaves cache (measured 1.5 s vs 0.78 s for 1.2M points x
    64 edges, 8.1 s vs 1.9 s x 352 edges) — chunk so each pass's
    intermediate stays ~target_cells (≈4 MB) regardless of how many points
    or edges there are. Called by the benchmark's ``spatial_kernels``
    workload and ``perfbench/kernels.py`` (scattered points); the raster
    clip uses :func:`scanline_parity`."""
    n = len(px)
    chunk = max(512, min(8192, target_cells // max(len(edges), 1)))
    if n <= chunk:
        return crossings(px, py, edges)
    out = np.empty(n, dtype=np.int64)
    for s in range(0, n, chunk):
        out[s:s + chunk] = crossings(px[s:s + chunk], py[s:s + chunk], edges)
    return out


def scanline_parity(lon, lat, w, h, pids, poly_edges,
                    step: float) -> np.ndarray:
    """Even-odd mask of every pixel centre of a batch of images against
    each image's polygon, by scanlines. Image k (``w[k]`` x ``h[k]``
    pixels, centred at ``lon[k]``/``lat[k]``) has pixel centres

        px = lon + ((x - w/2) + 0.5) * step
        py = lat + ((h/2 - y) - 0.5) * step      (row y, column x)

    and is tested against ``poly_edges[pids[k]]`` ((m, 4) x1,y1,x2,y2; a
    missing poly id tests against no edges). Returns a flat bool array:
    the images' row-major (h, w) masks back to back.

    Exactly ``crossings(px, py, edges) % 2 == 1`` per pixel: every pixel
    of a row shares ``py``, so per (image row, edge) the straddle test
    and ``xin`` are computed once, as :func:`crossings` computes them; the
    row's columns with ``px < xin`` are a prefix (``px`` is non-decreasing
    in x), whose length is guessed arithmetically and then corrected
    against the pixel centres themselves. Toggles at the prefix's start
    and one past its end, and one uint8 running count over the flat mask,
    give each pixel's crossing parity. Work and memory scale with
    Σ (rows x the image's own edges) plus the pixels."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    w = np.asarray(w, dtype=np.int64)
    h = np.asarray(h, dtype=np.int64)
    polys, poly_of = np.unique(np.asarray(pids, dtype=np.int64),
                              return_inverse=True)
    tables = [np.asarray(poly_edges.get(int(p), ()),
                         dtype=np.float64).reshape(-1, 4) for p in polys]
    e = np.concatenate(tables + [np.empty((0, 4))])
    sizes = np.array([len(t) for t in tables], dtype=np.int64)
    m = sizes[poly_of]                                  # edges of image k
    first_edge = (np.cumsum(sizes) - sizes)[poly_of]
    # ragged (image row, edge) pairs: h[k] * m[k] for image k
    pairs = h * m
    img = np.repeat(np.arange(len(w)), pairs)
    local = np.arange(pairs.sum()) - np.repeat(np.cumsum(pairs) - pairs,
                                               pairs)
    row, edge = np.divmod(local, m[img])
    edge += first_edge[img]
    py = lat[img] + ((h[img] / 2 - row) - 0.5) * step
    y1, y2 = e[edge, 1], e[edge, 3]
    keep = (y1 > py) != (y2 > py)
    img, row, edge, py, y1, y2 = (a[keep] for a in
                                  (img, row, edge, py, y1, y2))
    x1, x2 = e[edge, 0], e[edge, 2]
    x0, wk = lon[img], w[img]
    with np.errstate(invalid="ignore", over="ignore"):
        xin = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        # c = number of columns with px < xin
        guess = np.ceil((xin - x0) / step + wk / 2 - 0.5)
    c = np.clip(np.nan_to_num(guess), 0, wk).astype(np.int64)

    def below(x):                                       # px[x] < xin
        return x0 + ((x - wk / 2) + 0.5) * step < xin

    while (fix := (c > 0) & ~below(c - 1)).any():
        c -= fix
    while (fix := (c < wk) & below(c)).any():
        c += fix
    # toggle at the prefix's row start and one past its end (c == w: the
    # next row's start, which closes it there; c == 0: twice in one place);
    # parity = toggles at or before a pixel, counted in uint8 (its wrap at
    # 256 keeps the parity)
    row_w = np.repeat(w, h)
    row_start = np.cumsum(row_w) - row_w
    start = row_start[(np.cumsum(h) - h)[img] + row]
    n = int(row_w.sum())
    toggles = np.bincount(np.concatenate((start, start + c)),
                          minlength=n + 1).astype(np.uint8)
    return (np.cumsum(toggles[:n], dtype=np.uint8) & 1).view(bool)


def rings_to_edges(rings: list[np.ndarray]) -> np.ndarray:
    """Flatten rings into an (m, 4) edge table (x1,y1,x2,y2), closing each
    ring (wrap edge added when the ring is not explicitly closed)."""
    out = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        out.append(np.hstack([r[:-1], r[1:]]))
    return np.vstack(out) if out else np.empty((0, 4), dtype=np.float64)


def points_in_polygon(px, py, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd PIP of points against one (multi)polygon given all its rings
    (outers + holes, any parts). Returns (n,) bool."""
    edges = rings_to_edges(rings)
    if edges.shape[0] == 0:
        return np.zeros(np.asarray(px).shape, dtype=bool)
    return (crossings(px, py, edges) % 2) == 1


def pip_sql(lon: str, lat: str) -> str:
    """SQL predicate fragment counting ray crossings of a point against edge
    rows (columns x1,y1,x2,y2) — aggregate with SUM(...) % 2 = 1.  The same
    half-open rule as :func:`crossings`; valid in Spark SQL and DuckDB."""
    return (
        f"CASE WHEN ((y1 > ({lat})) <> (y2 > ({lat}))) AND "
        f"(({lon}) < x1 + (({lat}) - y1) * (x2 - x1) / (y2 - y1)) "
        f"THEN 1 ELSE 0 END"
    )


def ring_self_intersections(ring: np.ndarray) -> int:
    """Count PROPER self-intersections of a ring boundary (crossing pairs
    of non-adjacent edges; touching at shared endpoints or collinear
    overlap doesn't count). Vectorized over all edge pairs — validity QA
    for decoded polygons (a bowtie ring has 1). O(m^2) in edge count,
    intended for per-feature validation, not the join hot path."""
    r = np.asarray(ring, dtype=np.float64)
    if not np.array_equal(r[0], r[-1]):
        r = np.vstack([r, r[:1]])
    p, q = r[:-1], r[1:]
    m = p.shape[0]
    if m < 4:
        return 0

    def ccw(ax, ay, bx, by, cx, cy):
        return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

    ax, ay = p[:, 0][:, None], p[:, 1][:, None]
    bx, by = q[:, 0][:, None], q[:, 1][:, None]
    cx, cy = p[:, 0][None, :], p[:, 1][None, :]
    dx, dy = q[:, 0][None, :], q[:, 1][None, :]
    d1 = ccw(ax, ay, bx, by, cx, cy) * ccw(ax, ay, bx, by, dx, dy)
    d2 = ccw(cx, cy, dx, dy, ax, ay) * ccw(cx, cy, dx, dy, bx, by)
    cross = (d1 < 0) & (d2 < 0)
    i = np.arange(m)
    upper = i[:, None] < i[None, :]                   # each pair once
    adjacent = (i[None, :] - i[:, None] == 1)
    wrap = (i[:, None] == 0) & (i[None, :] == m - 1)
    return int(np.sum(cross & upper & ~adjacent & ~wrap))
