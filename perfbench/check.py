"""Independent references for every workload output.

Nothing here calls the engine's join, clip, hash or parser code. The
polygon layers are axis-aligned rectangles (outer, hole, second part), and
for such rings the engine's even-odd ray cast is exactly "the point lies in
[xmin, xmax) x [ymin, ymax) of an odd number of rings", which is what
:func:`rect_parity` computes. Pixel hashes are recomputed from the
generator's pixels; lineage output is re-read through DuckDB.
"""

from __future__ import annotations

import numpy as np

TILE_LEVEL = 12


def ring_boxes(rings: list[np.ndarray]) -> np.ndarray:
    """(r, 4) [xmin, ymin, xmax, ymax] of each rectangular ring."""
    return np.array([[r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()]
                     for r in rings])


def rect_parity(px: np.ndarray, py: np.ndarray, boxes: np.ndarray) -> np.ndarray:
    hits = np.zeros(len(px), dtype=np.int64)
    for x0, y0, x1, y1 in boxes:
        hits += (px >= x0) & (px < x1) & (py >= y0) & (py < y1)
    return hits % 2 == 1


def layer_membership(px, py, layer: list[list[np.ndarray]]):
    """(point index, poly id) pairs of every point inside every polygon,
    using a lon-sorted index so each polygon scans only its x-slab."""
    order = np.argsort(px, kind="stable")
    sx = px[order]
    pts, polys = [], []
    for pid, rings in enumerate(layer):
        boxes = ring_boxes(rings)
        lo = np.searchsorted(sx, boxes[:, 0].min(), "left")
        hi = np.searchsorted(sx, boxes[:, 2].max(), "right")
        idx = order[lo:hi]
        inside = idx[rect_parity(px[idx], py[idx], boxes)]
        pts.append(inside)
        polys.append(np.full(len(inside), pid, dtype=np.int64))
    return np.concatenate(pts), np.concatenate(polys)


def tile_xy(lon, lat, level: int = TILE_LEVEL):
    n = 1 << level
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 85.0) / 170.0 * n), 0, n - 1).astype(np.int64)
    return ix, iy


def cell_id_sum(lon, lat, level: int) -> int:
    """Sum of the points' cell ids at ``level`` from the documented layout
    ``morton(ix, iy) << 5 | level``: ix in the even bits and iy in the odd
    bits, interleaved here one bit at a time."""
    ix, iy = tile_xy(lon, lat, level)
    m = np.zeros(len(ix), np.int64)
    for b in range(level):
        m |= ((ix >> b) & 1) << (2 * b) | ((iy >> b) & 1) << (2 * b + 1)
    return int(((m << 5) | level).sum())


# ---------------------------------------------------------------------------
# fence_join
# ---------------------------------------------------------------------------

def fence_reference(lon, lat, fences) -> dict[int, tuple[int, int]]:
    """{fence id: (point count, exact distinct L12 tiles)}."""
    pi, pid = layer_membership(lon, lat, fences)
    ix, iy = tile_xy(lon[pi], lat[pi])
    key = ix * (1 << TILE_LEVEL) + iy
    out = {}
    for f in np.unique(pid):
        sel = pid == f
        out[int(f)] = (int(sel.sum()), int(len(np.unique(key[sel]))))
    return out


def check_fence_counts(rows: list[tuple[int, int, int]], ref) -> str | None:
    """rows: (poly_id, n, approx distinct tiles). Counts must match exactly;
    the HyperLogLog tile estimate within 15 % (its default rsd is 5 %)."""
    got = {int(p): (int(n), int(t)) for p, n, t in rows}
    if set(got) != set(ref):
        return f"fence ids differ: {sorted(set(got) ^ set(ref))[:5]}"
    for f, (n, tiles) in ref.items():
        gn, gt = got[f]
        if gn != n:
            return f"fence {f}: {gn} points, reference {n}"
        if abs(gt - tiles) > max(2, 0.15 * tiles):
            return f"fence {f}: ~{gt} tiles, reference {tiles}"
    return None


def check_counts(got: dict, ref: dict, what: str) -> str | None:
    if got != ref:
        bad = sorted(k for k in set(got) | set(ref) if got.get(k) != ref.get(k))
        return (f"{what}: {len(bad)} keys differ, e.g. {bad[0]}: "
                f"{got.get(bad[0])} vs {ref.get(bad[0])}")
    return None


def knn_reference(px, py, pids, dx, dy, dids, k: int) -> set[tuple[int, int]]:
    """Brute-force top-k by squared degree distance, ties broken by dim id."""
    out = set()
    for i in range(len(px)):
        d2 = (px[i] - dx) ** 2 + (py[i] - dy) ** 2
        top = np.lexsort((dids, d2))[:k]
        out.update((int(pids[i]), int(dids[j])) for j in top)
    return out


# ---------------------------------------------------------------------------
# worker_kernels
# ---------------------------------------------------------------------------

DEG_PER_PX = 0.01


def avg_hash(px: np.ndarray) -> int:
    """64-bit average hash (8x8 block means vs their mean, MSB first)."""
    gray = px.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    hh, ww = (h // 8) * 8, (w // 8) * 8
    g = gray[:hh, :ww].reshape(8, hh // 8, 8, ww // 8).mean(axis=(1, 3))
    bits = (g > g.mean()).ravel()
    return int(np.packbits(bits).view(">u8")[0].astype(np.uint64).view(np.int64))


def phash_mismatch_reference(ids, ws, hs, fmts, pixels_of) -> int:
    """Images whose decoded-pixel hash misses the stored (original-pixel)
    hash beyond the tolerance: exact for lossless formats, hamming <= 4
    for 'qb', whose decoder returns ((p >> 2) << 2) + 2."""
    bad = 0
    for i, w, h, fmt in zip(ids, ws, hs, fmts):
        if fmt != "qb":
            continue
        px = pixels_of(int(i), int(w), int(h))
        a = np.uint64(avg_hash(px) & 0xFFFFFFFFFFFFFFFF)
        b = np.uint64(avg_hash(decoded_pixels(px, fmt)) & 0xFFFFFFFFFFFFFFFF)
        if bin(int(a ^ b)).count("1") > 4:
            bad += 1
    return bad


def decoded_pixels(px: np.ndarray, fmt: str) -> np.ndarray:
    """What decoding the stored bytes returns: the pixels themselves for
    the lossless formats, ``((p >> 2) << 2) + 2`` for 'qb'."""
    return ((px >> 2) << 2) + 2 if fmt == "qb" else px


def decode_reference(ids, ws, hs, fmts, pixels_of) -> dict[str, tuple]:
    """{image_id: (mean decoded pixel, decoded bytes)}."""
    out = {}
    for i, w, h, fmt in zip(ids, ws, hs, fmts):
        px = decoded_pixels(pixels_of(int(i), int(w), int(h)), fmt)
        out[f"img{int(i):012d}"] = (float(px.mean()), int(w) * int(h) * 3)
    return out


def check_decode(got: dict, ref: dict) -> str | None:
    """Per image: decoded bytes exact, mean pixel within 1e-9."""
    if set(got) != set(ref):
        return f"decoded images differ: {sorted(set(got) ^ set(ref))[:5]}"
    for i, (mean, nbytes) in ref.items():
        gmean, gbytes = got[i]
        if gbytes != nbytes or abs(gmean - mean) > 1e-9:
            return f"{i}: decoded ({gmean}, {gbytes}), want ({mean}, {nbytes})"
    return None


def clip_reference(lon, lat, ws, hs, fences, rows, pids) -> dict:
    """{(row index, fence id): pixels inside the fence} for each image /
    fence pair of the join (``rows[k]`` paired with ``pids[k]``)."""
    out = {}
    boxes = [ring_boxes(r) for r in fences]
    for row, pid in zip(rows.tolist(), pids.tolist()):
        w, h = int(ws[row]), int(hs[row])
        xs = (np.arange(w) - w / 2 + 0.5) * DEG_PER_PX
        ys = (h / 2 - np.arange(h) - 0.5) * DEG_PER_PX
        gx, gy = np.broadcast_arrays(lon[row] + xs[None, :], lat[row] + ys[:, None])
        out[(row, pid)] = int(rect_parity(gx.ravel(), gy.ravel(),
                                          boxes[pid]).sum())
    return out


def lineage_summary(out_dir: str) -> dict[str, tuple]:
    """{layer: (rows, sum rec_no, sum lon, sum lat)} of a checkpointed
    write's output, read back with DuckDB."""
    import duckdb
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT layer, count(*), sum(rec_no), sum(lon), sum(lat) "
            "FROM read_parquet(?) GROUP BY layer",
            [f"{out_dir}/data/*/part.parquet"]).fetchall()
    finally:
        con.close()
    return {r[0]: (int(r[1]), int(r[2]), float(r[3]), float(r[4]))
            for r in rows}


def check_points(got: dict, ref: dict) -> str | None:
    """Per layer: row count and rec_no sum exact; lon/lat sums within 1e-6
    degree per point (WebMercator layers round-trip through the inverse
    projection)."""
    if set(got) != set(ref):
        return f"layers differ: {sorted(set(got) ^ set(ref))}"
    for layer, (n, recs, slon, slat) in ref.items():
        gn, grecs, glon, glat = got[layer]
        if (gn, grecs) != (n, recs):
            return f"{layer}: {gn} rows / rec_no sum {grecs}, want {n} / {recs}"
        if abs(glon - slon) > 1e-6 * n or abs(glat - slat) > 1e-6 * n:
            return f"{layer}: coordinate sums ({glon}, {glat}) vs ({slon}, {slat})"
    return None
