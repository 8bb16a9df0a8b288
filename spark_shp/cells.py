"""Hierarchical Z-order (Morton) cell index — the engine's H3/S2 stand-in.

SURVEY.md §2.B: no h3/s2 libraries exist in this environment, so the engine
implements an S2-family index from scratch: lon/lat quantized to a 2**level
grid, bit-interleaved (Morton) into one int64, packed as

    cell_id = morton << 5 | level          (levels 0..26)

Properties that make this a drop-in for the H3/S2 contract:
  * hierarchical containment  = integer prefix test (``cell_parent``)
  * a cell's descendants      = one contiguous int64 range (``cell_range``)
    → "per-partition lineage (cell ranges)" in BASELINE.json is natural
  * k-ring neighbors          = ±dx/±dy in de-interleaved space (``cell_ring``)
  * pure integer math         → numpy-vectorizable AND expressible as the
    same ANSI SQL in Spark and DuckDB (oracle parity; all intermediates fit
    in int64 and, for level ≤ 13, below 2**52)

Three implementations agree bit-for-bit: numpy kernels (this file), Spark SQL
expression strings (``cell_sql``), DuckDB oracle SQL (same strings). The
SQL spreads each coordinate's bits with a shift-and-mask cascade; the numpy
kernels look levels 0..16 up in one table of the 65,536 16-bit spreads
(``_SPREAD_TABLE``, 512 KB) and keep the cascade for levels 17..26. Up to
level 16 ``cell_encode`` allocates one buffer per axis: each quantizes in
place, and the x buffer becomes the cell ids.

Quantization (must be the *identical* IEEE-754 expression everywhere):
    ix = clamp(floor((lon + 180.0) / 360.0 * 2**level), 0, 2**level - 1)
    iy = clamp(floor((lat +  85.0) / 170.0 * 2**level), 0, 2**level - 1)
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 26
LEVEL_BITS = 5

# (shift, mask) cascade spreading a 16-bit int so its bits occupy even
# positions of a 32-bit int.  Masks are the classic Morton constants.
_SPREAD16 = [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]
# 32-bit variant for levels 17..26 (spread into 64 bits; numpy only — SQL
# callers are restricted to level ≤ 16 to stay in exact-float64 range).
_SPREAD32 = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _spread(x: np.ndarray, level: int) -> np.ndarray:
    x = np.asarray(x, dtype=np.int64)
    for s, m in _SPREAD32 if level > 16 else _SPREAD16:
        x = (x | (x << s)) & m
    return x


# the 16-bit spread of every index: 65,536 int64 entries, 512 KB
_SPREAD_TABLE = _spread(np.arange(1 << 16), 16)


def _compact(x: np.ndarray, level: int) -> np.ndarray:
    """Inverse of _spread: gather even-position bits back together."""
    x = np.asarray(x, dtype=np.int64)
    if level > 16:
        x = x & 0x5555555555555555
        x = (x | (x >> 1)) & 0x3333333333333333
        x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0F
        x = (x | (x >> 4)) & 0x00FF00FF00FF00FF
        x = (x | (x >> 8)) & 0x0000FFFF0000FFFF
        x = (x | (x >> 16)) & 0x00000000FFFFFFFF
    else:
        x = x & 0x55555555
        x = (x | (x >> 1)) & 0x33333333
        x = (x | (x >> 2)) & 0x0F0F0F0F
        x = (x | (x >> 4)) & 0x00FF00FF
        x = (x | (x >> 8)) & 0x0000FFFF
    return x


def _axis(v, shift: float, span: float, n: int) -> np.ndarray:
    """clamp(floor((v + shift) / span * n), 0, n - 1) as int64, computed in
    one buffer: the float steps in place, then the cast onto the same
    memory (NaN casts to int64 min, as ``astype`` gives it)."""
    v = np.asarray(v, dtype=np.float64)
    t = np.add(v, shift, out=np.empty(v.shape))
    t /= span
    t *= n
    np.floor(t, out=t)
    np.clip(t, 0, n - 1, out=t)
    out = t.view(np.int64)
    np.copyto(out, t, casting="unsafe")
    return out[()]


def quantize(lon, lat, level: int):
    """lon/lat → (ix, iy) grid coordinates. Identical expression to SQL."""
    n = 1 << level
    return _axis(lon, 180.0, 360.0, n), _axis(lat, 85.0, 170.0, n)


def _interleave(ix: np.ndarray, iy: np.ndarray, level: int) -> np.ndarray:
    """morton of int64 ``ix``, ``iy``; up to level 16 it is computed in
    ``ix``'s buffer and overwrites ``iy``. Each lookup reads index k before
    it writes slot k, so it can write over its own indices; ``clip`` sends
    NaN's int64 min (``quantize``) to entry 0, which is what the shift
    cascade gives it."""
    if level > 16:
        return _spread(ix, level) | (_spread(iy, level) << 1)
    np.take(_SPREAD_TABLE, ix, out=ix, mode="clip")
    np.take(_SPREAD_TABLE, iy, out=iy, mode="clip")
    iy <<= 1
    ix |= iy
    return ix


def morton(ix, iy, level: int) -> np.ndarray:
    """Interleave ``ix`` (even bits) and ``iy`` (odd bits), both in
    [0, 2**level) or int64 min (a NaN coordinate, which interleaves as
    0). Up to level 16 this is two lookups in one spread table."""
    return _interleave(np.array(ix, dtype=np.int64),
                       np.array(iy, dtype=np.int64), level)[()]


def cell_encode(lon, lat, level: int) -> np.ndarray:
    """int64 cell id(s) for lon/lat at ``level``."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in 0..{MAX_LEVEL}, got {level}")
    ix, iy = quantize(lon, lat, level)
    m = _interleave(np.asarray(ix), np.asarray(iy), level)
    m <<= LEVEL_BITS
    m |= level
    return m[()]


def cell_level(cell) -> np.ndarray:
    return np.asarray(cell, dtype=np.int64) & ((1 << LEVEL_BITS) - 1)


def cell_xy(cell):
    """cell id → (ix, iy, level)."""
    cell = np.asarray(cell, dtype=np.int64)
    level = cell & ((1 << LEVEL_BITS) - 1)
    m = cell >> LEVEL_BITS
    lmax = int(level.max()) if level.size else 0
    return _compact(m, lmax), _compact(m >> 1, lmax), level


def cell_parent(cell, steps: int = 1) -> np.ndarray:
    """Ancestor ``steps`` levels up: drop 2 morton bits per step."""
    cell = np.asarray(cell, dtype=np.int64)
    out = cell >> (LEVEL_BITS + 2 * steps)
    out <<= LEVEL_BITS
    level = cell & ((1 << LEVEL_BITS) - 1)
    level -= steps
    out |= level
    return out


def cell_children(cell) -> np.ndarray:
    """The 4 direct children of each cell → shape (..., 4)."""
    cell = np.asarray(cell, dtype=np.int64)
    level = cell & ((1 << LEVEL_BITS) - 1)
    m = cell >> LEVEL_BITS
    base = (m[..., None] << 2) | np.arange(4, dtype=np.int64)
    return (base << LEVEL_BITS) | (level[..., None] + 1)


def cell_range(cell):
    """(min, max) cell id at MAX_LEVEL covered by this cell — contiguous."""
    cell = np.asarray(cell, dtype=np.int64)
    level = cell & ((1 << LEVEL_BITS) - 1)
    m = cell >> LEVEL_BITS
    shift = 2 * (MAX_LEVEL - level)
    lo = (m << shift << LEVEL_BITS) | MAX_LEVEL
    hi = (((m + 1) << shift) - 1) << LEVEL_BITS | MAX_LEVEL
    return lo, hi


def cell_ring(cell, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (incl. self), grid-clamped.

    Returns shape (..., (2k+1)**2) with -1 for out-of-grid offsets
    (clamping, not wrapping — documented engine-wide convention).
    """
    cell = np.asarray(cell, dtype=np.int64)
    ix, iy, level = cell_xy(cell)
    lmax = int(level.max()) if level.size else 0
    n = np.int64(1) << level
    d = np.arange(-k, k + 1, dtype=np.int64)
    dx = np.repeat(d, 2 * k + 1)
    dy = np.tile(d, 2 * k + 1)
    nx = ix[..., None] + dx
    ny = iy[..., None] + dy
    ok = (nx >= 0) & (ny >= 0) & (nx < n[..., None]) & (ny < n[..., None])
    out = (morton(np.where(ok, nx, 0), np.where(ok, ny, 0), lmax)
           << LEVEL_BITS) | level[..., None]
    return np.where(ok, out, np.int64(-1))


# ---------------------------------------------------------------------------
# SQL expression builders — the SAME string runs in Spark SQL and DuckDB.
# Shifts are written as multiplication/division by powers of two and `&`/`|`
# bit ops (both dialects support them); level ≤ 16 keeps every value < 2**37,
# comfortably ANSI-safe and exact in float64.
# ---------------------------------------------------------------------------

def _spread_sql(x: str) -> str:
    e = f"({x})"
    for s, m in _SPREAD16:
        e = f"((({e}) | (({e}) * {1 << s})) & {m})"
    return e


def quantize_sql(lon: str, lat: str, level: int) -> tuple[str, str]:
    n = 1 << level
    ix = (f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR((({lon}) + 180.0) / 360.0 "
          f"* {float(n)!r}) AS BIGINT)))")
    iy = (f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR((({lat}) + 85.0) / 170.0 "
          f"* {float(n)!r}) AS BIGINT)))")
    return ix, iy


def morton_sql(ix: str, iy: str) -> str:
    return f"({_spread_sql(ix)} | ({_spread_sql(iy)} * 2))"


def cell_sql(lon: str, lat: str, level: int) -> str:
    """SQL for cell_encode(lon, lat, level); level ≤ 16."""
    if not 0 <= level <= 16:
        raise ValueError("SQL cell expressions support level 0..16")
    ix, iy = quantize_sql(lon, lat, level)
    return f"(({morton_sql(ix, iy)}) * {1 << LEVEL_BITS} + {level})"


def _idiv_sql(a: str, b: int) -> str:
    """Integer division of a non-negative value by a power of two, written so
    the same string runs in Spark SQL and DuckDB (Spark lacks ``//``; both
    have FLOOR, and values here are < 2**52 so float division is exact)."""
    return f"CAST(FLOOR(({a}) / {float(b)!r}) AS BIGINT)"


def cell_parent_sql(cell: str, steps: int = 1) -> str:
    m = _idiv_sql(cell, 1 << LEVEL_BITS)
    lvl = f"(({cell}) % {1 << LEVEL_BITS})"
    return (f"({_idiv_sql(m, 1 << (2 * steps))} * {1 << LEVEL_BITS}"
            f" + ({lvl}) - {steps})")
