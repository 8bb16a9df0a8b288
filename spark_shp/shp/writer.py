"""TEST-ONLY SHP/SHX/DBF writer (SURVEY.md §5.1).

The reference's fixture shapefiles are not available (empty /root/reference),
so golden decode-parity tests regenerate each fixture category from this
writer — expected GeoJSON is then known by construction and "bit-for-bit on
coordinates and attribute rows" is checkable without the original binaries.

Byte layout follows the public ESRI Shapefile Technical Description (July
1998) and the dBASE III spec; the parser under test must NOT import this
module (independence of writer and reader).
"""

from __future__ import annotations

import struct
from datetime import date

NULL, POINT, POLYLINE, POLYGON, MULTIPOINT = 0, 1, 3, 5, 8
POINTZ, POLYLINEZ, POLYGONZ, MULTIPOINTZ = 11, 13, 15, 18
POINTM, POLYLINEM, POLYGONM, MULTIPOINTM = 21, 23, 25, 28

_BASE_OF = {POINTZ: POINT, POLYLINEZ: POLYLINE, POLYGONZ: POLYGON,
            MULTIPOINTZ: MULTIPOINT, POINTM: POINT, POLYLINEM: POLYLINE,
            POLYGONM: POLYGON, MULTIPOINTM: MULTIPOINT}


def _flat_points(geom_type: int, data) -> list[tuple[float, float]]:
    base = _BASE_OF.get(geom_type, geom_type)
    if base == POINT:
        return [tuple(data[:2])]
    if base == MULTIPOINT:
        return [tuple(p[:2]) for p in data]
    return [tuple(p[:2]) for part in data for p in part]


def _record_payload(geom_type: int, data) -> bytes:
    """Encode one record's content (after the 8-byte record header).

    ``data``: Point → (x, y[, z[, m]]); MultiPoint → [(x, y[, z, m]), ...];
    PolyLine/Polygon → [part][vertex](x, y[, z, m]).  Z/M variants read the
    3rd/4th tuple slot (missing → 0.0).
    """
    out = struct.pack("<i", geom_type)
    if geom_type == NULL:
        return out
    base = _BASE_OF.get(geom_type, geom_type)
    has_z = geom_type in (POINTZ, POLYLINEZ, POLYGONZ, MULTIPOINTZ)
    has_m = has_z or geom_type in (POINTM, POLYLINEM, POLYGONM, MULTIPOINTM)

    def zval(p):
        return float(p[2]) if len(p) > 2 else 0.0

    def mval(p):
        idx = 3 if has_z else 2
        return float(p[idx]) if len(p) > idx else 0.0

    if base == POINT:
        out += struct.pack("<dd", float(data[0]), float(data[1]))
        if has_z:
            out += struct.pack("<d", zval(data))
        if has_m:
            out += struct.pack("<d", mval(data))
        return out

    pts = _flat_points(geom_type, data)
    xs, ys = [p[0] for p in pts], [p[1] for p in pts]
    out += struct.pack("<4d", min(xs), min(ys), max(xs), max(ys))
    if base == MULTIPOINT:
        out += struct.pack("<i", len(data))
        flat = list(data)
    else:
        parts, flat, off = [], [], 0
        for part in data:
            parts.append(off)
            flat.extend(part)
            off += len(part)
        out += struct.pack("<ii", len(data), len(flat))
        out += struct.pack(f"<{len(parts)}i", *parts)
    for p in flat:
        out += struct.pack("<dd", float(p[0]), float(p[1]))
    if has_z:
        zs = [zval(p) for p in flat]
        out += struct.pack("<dd", min(zs), max(zs))
        out += struct.pack(f"<{len(zs)}d", *zs)
    if has_m:
        ms = [mval(p) for p in flat]
        out += struct.pack("<dd", min(ms) if ms else 0.0,
                           max(ms) if ms else 0.0)
        out += struct.pack(f"<{len(ms)}d", *ms)
    return out


def write_shp(records: list[tuple[int, object]],
              header_type: int | None = None) -> bytes:
    """records: [(geom_type, data), ...] → .shp file bytes."""
    payloads = [_record_payload(t, d) for t, d in records]
    body = b"".join(struct.pack(">ii", i + 1, len(p) // 2) + p
                    for i, p in enumerate(payloads))
    if header_type is None:
        header_type = next((t for t, _ in records if t != NULL), POINT)
    all_pts = [pt for t, d in records if t != NULL
               for pt in _flat_points(t, d)]
    if all_pts:
        xs, ys = [p[0] for p in all_pts], [p[1] for p in all_pts]
        bbox = (min(xs), min(ys), max(xs), max(ys))
    else:
        bbox = (0.0, 0.0, 0.0, 0.0)
    total_words = (100 + len(body)) // 2
    header = struct.pack(">i", 9994) + b"\x00" * 20
    header += struct.pack(">i", total_words)
    header += struct.pack("<ii", 1000, header_type)
    header += struct.pack("<4d", *bbox)
    header += struct.pack("<4d", 0.0, 0.0, 0.0, 0.0)  # z/m ranges
    return header + body


def write_shx(records: list[tuple[int, object]]) -> bytes:
    payloads = [_record_payload(t, d) for t, d in records]
    heads, off = [], 50
    for p in payloads:
        heads.append(struct.pack(">ii", off, len(p) // 2))
        off += 4 + len(p) // 2
    body = b"".join(heads)
    header = struct.pack(">i", 9994) + b"\x00" * 20
    header += struct.pack(">i", (100 + len(body)) // 2)
    header += struct.pack("<ii", 1000, POINT)
    header += struct.pack("<8d", *([0.0] * 8))
    return header + body


def write_dbf(fields: list[tuple[str, str, int, int]], rows: list[dict],
              encoding: str = "ascii") -> bytes:
    """fields: [(name, type_char, length, decimals)]; rows: [{name: value}].

    Values: C → str (padded right); N/F → number or raw str (right-aligned)
    or None (blanks); D → datetime.date or 'YYYYMMDD' str; L → True/False/
    None/'raw char'.
    """
    n = len(rows)
    header_size = 32 + 32 * len(fields) + 1
    rec_size = 1 + sum(f[2] for f in fields)
    out = bytearray()
    out += struct.pack("<B3BIHH", 0x03, 24, 1, 1, n, header_size, rec_size)
    out += b"\x00" * 20
    for name, ftype, length, dec in fields:
        fd = bytearray(32)
        fd[0:11] = name.encode("ascii")[:11].ljust(11, b"\x00")
        fd[11] = ord(ftype)
        fd[16], fd[17] = length, dec
        out += fd
    out += b"\x0d"
    for row in rows:
        out += b" "  # not deleted
        for name, ftype, length, dec in fields:
            v = row.get(name)
            if ftype == "C":
                txt = "" if v is None else str(v)
                out += txt.encode(encoding)[:length].ljust(length, b" ")
            elif ftype in ("N", "F"):
                if v is None:
                    txt = ""
                elif isinstance(v, str):
                    txt = v
                elif dec > 0:
                    txt = f"{float(v):.{dec}f}"
                else:
                    txt = str(int(v))
                out += txt.encode("ascii")[:length].rjust(length, b" ")
            elif ftype == "D":
                if v is None:
                    txt = " " * 8
                elif isinstance(v, date):
                    txt = f"{v.year:04d}{v.month:02d}{v.day:02d}"
                else:
                    txt = str(v)
                out += txt.encode("ascii")[:8].ljust(8, b" ")
            elif ftype == "L":
                ch = (b"?" if v is None else
                      v.encode("ascii") if isinstance(v, str) else
                      (b"T" if v else b"F"))
                out += ch[:1]
            else:
                txt = "" if v is None else str(v)
                out += txt.encode(encoding)[:length].ljust(length, b" ")
    out += b"\x1a"
    return bytes(out)


WEBMERC_WKT = (
    'PROJCS["WGS 84 / Pseudo-Mercator",GEOGCS["WGS 84",DATUM["WGS_1984",'
    'SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],'
    'UNIT["degree",0.0174532925199433]],PROJECTION["Mercator_1SP"],'
    'PARAMETER["central_meridian",0],PARAMETER["scale_factor",1],'
    'PARAMETER["false_easting",0],PARAMETER["false_northing",0],'
    'UNIT["metre",1],AUTHORITY["EPSG","3857"]]')

WGS84_WKT = (
    'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
    '298.257223563]],PRIMEM["Greenwich",0],'
    'UNIT["degree",0.0174532925199433],AUTHORITY["EPSG","4326"]]')
