"""Single-thread kernel probes: the engine's numpy kernels called directly,
with no Spark, so a kernel gain shows apart from Spark overhead.

Each probe runs its kernel REPS times on seeded input and reports the
median rate.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from spark_shp import cells, codecs, fixtures, geom
from spark_shp.shp import parser, writer

from . import gen


REPS = 5


def _rate(fn, work: float) -> float:
    fn()
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return work / statistics.median(times)


def probe(seed: int) -> dict[str, float]:
    rng = np.random.default_rng([seed, 23])
    out = {}

    n = 1_000_000
    lon, lat = rng.uniform(-180, 180, n), rng.uniform(-85, 85, n)
    out["cells.kernel_mrows_per_s"] = _rate(
        lambda: cells.cell_encode(lon, lat, 12), n / 1e6)

    edges = np.vstack([geom.rings_to_edges(fixtures.fence_rings(j))
                       for j in range(16)])
    m = 100_000
    px, py = rng.uniform(-180, 180, m), rng.uniform(-85, 85, m)
    out["geom.crossings_mtests_per_s"] = _rate(
        lambda: geom.crossings_chunked(px, py, edges), m * len(edges) / 1e6)

    pts = gen.point_shp_bytes(lon[:200_000], lat[:200_000])
    out["shp.parse_points_mb_per_s"] = _rate(
        lambda: parser.parse_shp_points_columns(pts), len(pts) / 1e6)

    recs = []
    for r in range(500):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-75, 75)
        rings = gen.rect_rings(cx, cy, 1.0, 0.5, r % 3 == 0, r % 5 == 0)
        recs.append((writer.POLYGON, [x.tolist() for x in rings]))
    polys = writer.write_shp(recs)
    out["shp.parse_polygons_mb_per_s"] = _rate(
        lambda: parser.parse_shp(polys), len(polys) / 1e6)

    imgs = []
    for i in range(60):
        w, h = 48, 48
        fmt = ("png", "qb", "raw")[i % 3]
        imgs.append((codecs.encode(fixtures.image_pixels(seed + i, w, h), fmt),
                     w, h, fmt))
    px_total = sum(w * h for _, w, h, _ in imgs)
    out["codecs.decode_mpx_per_s"] = _rate(
        lambda: [codecs.decode(b, w, h, f) for b, w, h, f in imgs],
        px_total / 1e6)
    return out
