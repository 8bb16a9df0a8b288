"""Golden decode-parity tests (SURVEY.md §5.1 fixture categories, M1 gate):
writer → parser → expected GeoJSON, exact float64 equality.

Each fixture regenerates a reference test category (FIXTURES.md §3); the
parser must match the reconstructed shapefile-js semantics bit-for-bit on
coordinates and attribute rows.
"""

import math
import re
from datetime import date

import numpy as np
import pytest

from spark_shp.hashing import u01
from spark_shp.shp import parser, writer


def pts5():
    out = []
    for rec in range(5):
        lon = float(u01(np.int64(rec * 13 + 5)) * 360.0 - 180.0)
        lat = float(u01(np.int64(rec * 13 + 9)) * 170.0 - 85.0)
        out.append((lon, lat))
    return out


# --- fx_point ---------------------------------------------------------------

def test_points_bit_for_bit():
    coords = pts5()
    buf = writer.write_shp([(writer.POINT, c) for c in coords])
    h = parser.parse_header(buf)
    assert h["type"] == writer.POINT and h["version"] == 1000
    assert h["length"] == len(buf)
    geoms = parser.parse_shp(buf)
    assert [g["type"] for g in geoms] == ["Point"] * 5
    for g, c in zip(geoms, coords):
        assert g["coordinates"] == [c[0], c[1]]  # exact float64


# --- fx_multipart -----------------------------------------------------------

def test_polyline_parts_split():
    p1 = [[(0.0, 0.0), (1.0, 1.0), (2.0, 0.5), (3.0, 2.0)]]
    p2 = [[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0)],
          [(5.0, 5.0), (6.0, 6.0), (7.0, 5.0)]]
    p3 = [[(0.0, 0.0), (1.0, 0.0)], [(2.0, 0.0), (3.0, 0.0)],
          [(4.0, 0.0), (5.0, 0.0)]]
    buf = writer.write_shp([(writer.POLYLINE, p) for p in (p1, p2, p3)])
    g1, g2, g3 = parser.parse_shp(buf)
    assert g1["type"] == "LineString"
    assert g1["coordinates"] == [[0.0, 0.0], [1.0, 1.0], [2.0, 0.5], [3.0, 2.0]]
    assert g2["type"] == "MultiLineString" and len(g2["coordinates"]) == 2
    assert g3["type"] == "MultiLineString" and len(g3["coordinates"]) == 3
    assert g3["coordinates"][2] == [[4.0, 0.0], [5.0, 0.0]]


# --- fx_poly_rings (the crux: A6) --------------------------------------------

CW = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0)]
CCW_HOLE = [(2.0, 2.0), (8.0, 2.0), (8.0, 8.0), (2.0, 8.0), (2.0, 2.0)]


def _shift(ring, dx):
    return [(x + dx, y) for x, y in ring]


def test_polygon_single_cw_ring():
    buf = writer.write_shp([(writer.POLYGON, [CW])])
    (g,) = parser.parse_shp(buf)
    assert g["type"] == "Polygon"
    assert g["coordinates"] == [[list(p) for p in CW]]


def test_polygon_outer_plus_hole():
    buf = writer.write_shp([(writer.POLYGON, [CW, CCW_HOLE])])
    (g,) = parser.parse_shp(buf)
    assert g["type"] == "Polygon" and len(g["coordinates"]) == 2
    assert g["coordinates"][1] == [list(p) for p in CCW_HOLE]


def test_polygon_mixed_order_leading_ccw():
    """Leading CCW ring: reference polyReduce starts a polygon with it
    anyway (accumulator empty); following CW starts a second polygon."""
    buf = writer.write_shp([(writer.POLYGON, [CCW_HOLE, CW])])
    (g,) = parser.parse_shp(buf)
    assert g["type"] == "MultiPolygon"
    assert len(g["coordinates"]) == 2
    assert g["coordinates"][0] == [[list(p) for p in CCW_HOLE]]
    assert g["coordinates"][1] == [[list(p) for p in CW]]


def test_polygon_hole_binds_to_most_recent_outer():
    """Two CW outers then one CCW: hole attaches to the SECOND outer."""
    outer2 = _shift(CW, 20.0)
    hole2 = _shift(CCW_HOLE, 20.0)
    buf = writer.write_shp([(writer.POLYGON, [CW, outer2, hole2])])
    (g,) = parser.parse_shp(buf)
    assert g["type"] == "MultiPolygon"
    assert [len(poly) for poly in g["coordinates"]] == [1, 2]
    assert g["coordinates"][1][1] == [list(p) for p in hole2]


# --- fx_null_interleave --------------------------------------------------------

def test_null_shapes_keep_positional_alignment():
    recs = [(writer.POINT, (1.0, 2.0)), (writer.NULL, None),
            (writer.POINT, (3.0, 4.0)), (writer.NULL, None),
            (writer.NULL, None), (writer.POINT, (5.0, 6.0))]
    buf = writer.write_shp(recs, header_type=writer.POINT)
    geoms = parser.parse_shp(buf)
    assert [g is None for g in geoms] == [False, True, False, True, True, False]
    dbf = writer.write_dbf([("NAME", "C", 8, 0)],
                           [{"NAME": f"r{i}"} for i in range(6)])
    rows = parser.parse_dbf(dbf)
    feats = parser.combine(geoms, rows)
    assert len(feats) == 6
    assert feats[1]["geometry"] is None
    assert feats[1]["properties"]["NAME"] == "r1"
    assert feats[5]["geometry"]["coordinates"] == [5.0, 6.0]


# --- fx_zm ---------------------------------------------------------------------

def test_pointz_and_m_dropped():
    buf = writer.write_shp([(writer.POINTZ, (1.5, 2.5, 3.5, 99.0))])
    (g,) = parser.parse_shp(buf)
    assert g["coordinates"] == [1.5, 2.5, 3.5]  # M dropped


def test_polygonz_z_appended():
    ring = [(0.0, 0.0, 1.0), (0.0, 10.0, 2.0), (10.0, 10.0, 3.0),
            (10.0, 0.0, 4.0), (0.0, 0.0, 5.0)]
    buf = writer.write_shp([(writer.POLYGONZ, [ring])])
    (g,) = parser.parse_shp(buf)
    assert g["type"] == "Polygon"
    assert g["coordinates"][0][0] == [0.0, 0.0, 1.0]
    assert g["coordinates"][0][4] == [0.0, 0.0, 5.0]


def test_m_types_fold_to_base():
    """PointM(21)/PolyLineM(23) decode identically to base types."""
    bm = writer.write_shp([(writer.POINTM, (7.0, 8.0, 42.0))])
    (gm,) = parser.parse_shp(bm)
    assert gm == {"type": "Point", "coordinates": [7.0, 8.0]}
    line = [[(0.0, 0.0), (1.0, 2.0)]]
    blm = writer.write_shp([(writer.POLYLINEM, line)])
    (glm,) = parser.parse_shp(blm)
    assert glm == {"type": "LineString",
                   "coordinates": [[0.0, 0.0], [1.0, 2.0]]}


def test_multipointz():
    pts = [(1.0, 2.0, 10.0), (3.0, 4.0, 20.0)]
    buf = writer.write_shp([(writer.MULTIPOINTZ, pts)])
    (g,) = parser.parse_shp(buf)
    assert g["coordinates"] == [[1.0, 2.0, 10.0], [3.0, 4.0, 20.0]]


# --- fx_bad_type ------------------------------------------------------------------

def test_unknown_type_error_message():
    buf = writer.write_shp([(writer.POINT, (0.0, 0.0))], header_type=31)
    with pytest.raises(ValueError, match=r'I don\'t know shp type "31"'):
        parser.parse_shp(buf)


# --- fx_dbf_types -------------------------------------------------------------------

def test_dbf_value_semantics():
    fields = [("NAME", "C", 12, 0), ("QTY", "N", 8, 0),
              ("PRICE", "F", 10, 2), ("DAY", "D", 8, 0), ("OK", "L", 1, 0)]
    rows = [
        {"NAME": "alpha  ", "QTY": 42, "PRICE": 19.99,
         "DAY": date(2020, 2, 29), "OK": True},
        {"NAME": "beta", "QTY": None, "PRICE": None, "DAY": None, "OK": False},
        {"NAME": "", "QTY": "****", "PRICE": "  3.5", "DAY": "20240115",
         "OK": "y"},
        {"NAME": "d", "QTY": "-7", "PRICE": "12.5ab", "DAY": None, "OK": "?"},
    ]
    buf = writer.write_dbf(fields, rows)
    out = parser.parse_dbf(buf)
    assert out[0]["NAME"] == "alpha"           # trailing spaces trimmed
    assert out[0]["QTY"] == 42.0 and out[0]["PRICE"] == 19.99
    assert out[0]["DAY"] == date(2020, 2, 29) and out[0]["OK"] is True
    assert math.isnan(out[1]["QTY"])           # blank numeric → NaN, not None
    assert math.isnan(out[1]["PRICE"])
    assert out[1]["DAY"] is None and out[1]["OK"] is False
    assert math.isnan(out[2]["QTY"])           # '*'-padded → NaN
    assert out[2]["PRICE"] == 3.5
    assert out[2]["DAY"] == date(2024, 1, 15) and out[2]["OK"] is True
    assert out[3]["QTY"] == -7.0
    assert out[3]["PRICE"] == 12.5             # parseFloat prefix semantics
    assert out[3]["OK"] is None                # '?' → null tri-state


# --- fx_codepage ----------------------------------------------------------------------

def test_codepage_decode():
    fields = [("TXT", "C", 16, 0)]
    buf_utf8 = writer.write_dbf(fields, [{"TXT": "café—π"}], encoding="utf-8")
    assert parser.parse_dbf(buf_utf8, parser.parse_cpg(b"UTF-8"))[0]["TXT"] \
        == "café—π"
    buf_lat1 = writer.write_dbf(fields, [{"TXT": "café"}], encoding="latin-1")
    assert parser.parse_dbf(
        buf_lat1, parser.parse_cpg(b"ISO-8859-1"))[0]["TXT"] == "café"
    assert parser.parse_cpg(None) == "latin-1"
    assert parser.parse_cpg(b"1252") == "cp1252"


# --- fx_webmerc -------------------------------------------------------------------------

def test_webmercator_inverse():
    lonlats = [(-73.9857, 40.7484), (2.3522, 48.8566), (0.0, 0.0),
               (139.6917, 35.6895)]
    R = 6378137.0
    merc = [(math.radians(lon) * R,
             math.log(math.tan(math.pi / 4 + math.radians(lat) / 2)) * R)
            for lon, lat in lonlats]
    buf = writer.write_shp([(writer.POINT, m) for m in merc])
    trans = parser.projection_from_wkt(writer.WEBMERC_WKT)
    assert trans is not None
    geoms = parser.parse_shp(buf, trans)
    for g, (lon, lat) in zip(geoms, lonlats):
        assert abs(g["coordinates"][0] - lon) < 1e-9
        assert abs(g["coordinates"][1] - lat) < 1e-9
    # geographic WKT and garbage → identity (reference try/catch)
    assert parser.projection_from_wkt(writer.WGS84_WKT) is None
    assert parser.projection_from_wkt("NOT A WKT [[[") is None


# --- fx_zip_* -----------------------------------------------------------------------------

def _zip_bytes(members: dict[str, bytes]) -> bytes:
    import io
    import zipfile
    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w") as z:
        for name, data in members.items():
            z.writestr(name, data)
    return bio.getvalue()


def test_zip_uppercase_and_macosx():
    from spark_shp.shp import zipio
    coords = pts5()
    shp = writer.write_shp([(writer.POINT, c) for c in coords])
    dbf = writer.write_dbf([("ID", "N", 4, 0)],
                           [{"ID": i} for i in range(5)])
    z = _zip_bytes({"layer1.SHP": shp, "layer1.DBF": dbf,
                    "__MACOSX/layer1.SHP": b"ghost"})
    layers = zipio.parse_zip(z)
    assert len(layers) == 1
    name, feats = layers[0]
    assert name == "layer1" and len(feats) == 5
    assert feats[0]["properties"]["ID"] == 0.0
    assert feats[0]["geometry"]["coordinates"] == list(coords[0])


def test_zip_multilayer_and_geojson():
    from spark_shp.shp import zipio
    shp = writer.write_shp([(writer.POINT, (1.0, 2.0))])
    shp2 = writer.write_shp([(writer.POLYGON, [CW])])
    z = _zip_bytes({"a.shp": shp, "b.shp": shp2,
                    "extra.json": b'{"type": "FeatureCollection", "features": []}'})
    layers = zipio.parse_zip(z)
    assert [n for n, _ in layers] == ["a", "b", "extra"]
    assert layers[2][1]["type"] == "FeatureCollection"


def test_zip_empty_shp_and_no_layers():
    from spark_shp.shp import zipio
    empty = writer.write_shp([])
    z = _zip_bytes({"e.shp": empty})
    (name, feats), = zipio.parse_zip(z)
    assert feats == []
    with pytest.raises(ValueError, match="no layers founds"):
        zipio.parse_zip(_zip_bytes({"readme.txt": b"hi"}))


# --- robustness fuzzing ------------------------------------------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_fuzz_arbitrary_bytes_fail_controlled(blob):
    """Arbitrary bytes never hang or corrupt: parse_shp either returns a
    list or raises a controlled error (short header / unknown type /
    malformed payload). The fast path additionally may only return None or
    arrays that agree with the slow path."""
    import numpy as np
    from spark_shp.shp import parser
    try:
        out = parser.parse_shp(blob)
        assert isinstance(out, list)
        ok = True
    except (ValueError, AssertionError, IndexError):
        ok = False
    fast = parser.parse_shp_points_columns(blob)
    if fast is not None:
        assert ok, "fast path accepted input the parity path rejected"
        rec_no, x, y = fast
        slow = parser.parse_shp(blob)
        assert len(rec_no) == len(slow)
        for k in range(len(slow)):
            assert slow[k]["type"] == "Point"
            sx, sy = slow[k]["coordinates"]
            assert (x[k] == sx or (np.isnan(x[k]) and np.isnan(sx)))
            assert (y[k] == sy or (np.isnan(y[k]) and np.isnan(sy)))


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=400), st.integers(0, 63))
def test_fuzz_truncated_valid_file(cut_tail, n_pts):
    """A valid Point file truncated anywhere parses its intact prefix
    records (buffer-length guard, A2) — never throws on mid-record cuts,
    never yields a record whose payload was cut."""
    from spark_shp.shp import parser, writer
    blob = writer.write_shp(
        [(writer.POINT, (float(i), float(-i))) for i in range(n_pts)])
    cut = blob[: max(0, len(blob) - cut_tail)]
    if len(cut) < 100:
        import pytest
        with pytest.raises(ValueError):
            parser.parse_shp(cut)
        return
    out = parser.parse_shp(cut)
    assert len(out) <= n_pts
    for k, g in enumerate(out):
        assert g == {"type": "Point", "coordinates": [float(k), float(-k)]}


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=300))
def test_fuzz_dbf_arbitrary_bytes(blob):
    """Arbitrary bytes through parse_dbf: list out or controlled error."""
    from spark_shp.shp import parser
    try:
        out = parser.parse_dbf(blob)
        assert isinstance(out, list)
    except ValueError:
        pass


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=120), st.integers(0, 9))
def test_fuzz_dbf_truncated(cut_tail, n_rows):
    """A truncated DBF parses its intact prefix rows (avail guard, A14)."""
    from spark_shp.shp import writer, parser
    fields = [("NAME", "C", 8, 0), ("QTY", "N", 6, 0)]
    rows = [{"NAME": f"r{i}", "QTY": float(i)} for i in range(n_rows)]
    blob = writer.write_dbf(fields, rows)
    cut = blob[: max(0, len(blob) - cut_tail)]
    try:
        out = parser.parse_dbf(cut)
    except ValueError:
        assert len(cut) < 12  # only the bare header read may fail
        return
    assert len(out) <= n_rows
    for i, r in enumerate(out):
        assert r["NAME"] == f"r{i}" and r["QTY"] == float(i)


def test_utm_inverse_roundtrip():
    """A12 TM completion: forward-project with an independent Snyder forward
    implementation, decode through the WKT-driven inverse, recover lon/lat."""
    import numpy as np

    a, inv_f, lon0, k0, fe = 6378137.0, 298.257223563, 15.0, 0.9996, 500000.0
    f = 1.0 / inv_f
    e2 = 2 * f - f * f
    ep2 = e2 / (1 - e2)
    lonlats = [(14.2, 41.9), (16.37, 48.21), (15.0, 0.0), (17.9, 78.2),
               (12.5, 55.7)]
    merc = []
    for lon, lat in lonlats:
        phi, lam = math.radians(lat), math.radians(lon)
        N = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        T_ = math.tan(phi) ** 2
        C = ep2 * math.cos(phi) ** 2
        A = (lam - math.radians(lon0)) * math.cos(phi)
        mc = 1 - e2 / 4 - 3 * e2 ** 2 / 64 - 5 * e2 ** 3 / 256
        M = a * (mc * phi
                 - (3 * e2 / 8 + 3 * e2 ** 2 / 32
                    + 45 * e2 ** 3 / 1024) * math.sin(2 * phi)
                 + (15 * e2 ** 2 / 256
                    + 45 * e2 ** 3 / 1024) * math.sin(4 * phi)
                 - (35 * e2 ** 3 / 3072) * math.sin(6 * phi))
        x = fe + k0 * N * (A + (1 - T_ + C) * A ** 3 / 6
                           + (5 - 18 * T_ + T_ ** 2 + 72 * C
                              - 58 * ep2) * A ** 5 / 120)
        y = k0 * (M + N * math.tan(phi) * (
            A * A / 2 + (5 - T_ + 9 * C + 4 * C * C) * A ** 4 / 24
            + (61 - 58 * T_ + T_ ** 2 + 600 * C
               - 330 * ep2) * A ** 6 / 720))
        merc.append((x, y))
    wkt = ('PROJCS["WGS 84 / UTM zone 33N",GEOGCS["WGS 84",DATUM["WGS_1984",'
           'SPHEROID["WGS 84",6378137,298.257223563]]],'
           'PROJECTION["Transverse_Mercator"],'
           'PARAMETER["latitude_of_origin",0],'
           'PARAMETER["central_meridian",15],'
           'PARAMETER["scale_factor",0.9996],'
           'PARAMETER["false_easting",500000],'
           'PARAMETER["false_northing",0],UNIT["metre",1]]')
    buf = writer.write_shp([(writer.POINT, m) for m in merc])
    trans = parser.projection_from_wkt(wkt)
    assert trans is not None
    for g, (lon, lat) in zip(parser.parse_shp(buf, trans), lonlats):
        assert abs(g["coordinates"][0] - lon) < 1e-7
        assert abs(g["coordinates"][1] - lat) < 1e-7


def test_unknown_projection_raises_not_identity():
    """A well-formed PROJCS the engine can't invert must raise loudly —
    round 1 silently decoded Lambert meters as degrees (VERDICT missing #1)."""
    import pytest
    wkt = ('PROJCS["NZ Map Grid",'
           'PROJECTION["New_Zealand_Map_Grid"],'
           'PARAMETER["central_meridian",173]]')
    with pytest.raises(ValueError, match="New_Zealand_Map_Grid"):
        parser.projection_from_wkt(wkt)


def test_record_scan_negative_content_len_terminates():
    """ADVICE r1: content_words=-4 with rec_type=0 froze record_scan (off
    never advanced); any content_len < 4 must stop the scan."""
    good = writer.write_shp([(writer.POINT, (1.0, 2.0))])
    evil = (good[:100]
            + (1).to_bytes(4, "big")
            + (-4).to_bytes(4, "big", signed=True)
            + (0).to_bytes(4, "little") + b"\x00" * 8)
    assert list(parser.record_scan(evil)) == []
    assert parser.parse_shp(evil[:100] + good[100:] + evil[100:]) == [
        g for g in parser.parse_shp(good)]
    # negative length mid-file stops at the last intact record
    evil2 = good + (2).to_bytes(4, "big") + (-100).to_bytes(
        4, "big", signed=True) + (1).to_bytes(4, "little")
    assert len(list(parser.record_scan(evil2))) == 1


# --- A12: Lambert Conformal Conic / Albers inverses -------------------------

def _conic_fwd_helpers():
    import math
    a, invf = 6378137.0, 298.257223563
    e2 = (2 - 1 / invf) / invf
    e = math.sqrt(e2)

    def mtq(phi):
        return parser._conic_m_t_q(e2, phi)
    return a, e2, e, mtq


def test_lcc_2sp_inverse_roundtrip():
    """Forward-project with independently written Snyder 15-1..15-10, then
    check projection_from_wkt's inverse recovers lon/lat to <1e-9 deg."""
    import math
    import numpy as np
    a, e2, e, mtq = _conic_fwd_helpers()
    lon0, lat0, sp1, sp2, fe, fn = -118.0, 33.5, 34.03, 35.47, 2e6, 5e5
    m1, t1, _ = mtq(math.radians(sp1))
    m2, t2, _ = mtq(math.radians(sp2))
    n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    F = m1 / (n * t1 ** n)
    _, t0, _ = mtq(math.radians(lat0))
    rho0 = a * F * t0 ** n
    pts = [(-121.5, 31.2), (-118.0, 34.5), (-114.2, 37.9), (-119.7, 33.5)]
    xy = []
    for lon, lat in pts:
        _, t, _ = mtq(math.radians(lat))
        rho = a * F * t ** n
        th = n * math.radians(lon - lon0)
        xy.append((fe + rho * math.sin(th), fn + rho0 - rho * math.cos(th)))
    wkt = ('PROJCS["x",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID['
           '"WGS 84",6378137,298.257223563]]],'
           'PROJECTION["Lambert_Conformal_Conic_2SP"],'
           'PARAMETER["standard_parallel_1",34.03],'
           'PARAMETER["standard_parallel_2",35.47],'
           'PARAMETER["latitude_of_origin",33.5],'
           'PARAMETER["central_meridian",-118],'
           'PARAMETER["false_easting",2000000],'
           'PARAMETER["false_northing",500000],UNIT["metre",1]]')
    inv = parser.projection_from_wkt(wkt)
    back = inv(np.array(xy))
    assert np.abs(back - np.array(pts)).max() < 1e-9


def test_lcc_1sp_scale_factor_roundtrip():
    """1SP form (n = sin(lat0), k0 multiplies aF) — no standard_parallel
    parameters in the WKT."""
    import math
    import numpy as np
    a, e2, e, mtq = _conic_fwd_helpers()
    lon0, lat0, k0, fe, fn = 2.337, 46.8, 0.99987742, 6e5, 2e5
    n = math.sin(math.radians(lat0))
    m0, t0, _ = mtq(math.radians(lat0))
    F = m0 / (n * t0 ** n)
    rho0 = a * k0 * F * t0 ** n
    pts = [(0.5, 44.0), (2.337, 46.8), (6.0, 49.5)]
    xy = []
    for lon, lat in pts:
        _, t, _ = mtq(math.radians(lat))
        rho = a * k0 * F * t ** n
        th = n * math.radians(lon - lon0)
        xy.append((fe + rho * math.sin(th), fn + rho0 - rho * math.cos(th)))
    wkt = ('PROJCS["x",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID['
           '"WGS 84",6378137,298.257223563]]],'
           'PROJECTION["Lambert_Conformal_Conic_1SP"],'
           'PARAMETER["latitude_of_origin",46.8],'
           'PARAMETER["central_meridian",2.337],'
           'PARAMETER["scale_factor",0.99987742],'
           'PARAMETER["false_easting",600000],'
           'PARAMETER["false_northing",200000],UNIT["metre",1]]')
    inv = parser.projection_from_wkt(wkt)
    back = inv(np.array(xy))
    assert np.abs(back - np.array(pts)).max() < 1e-9


def test_albers_inverse_roundtrip():
    """CONUS Albers: forward via Snyder 14-1..14-15, inverse recovers to
    <2e-8 deg (~2 mm — the truncation of the 3-term authalic series
    eq. 3-18; parity with the SQL oracle is exact regardless)."""
    import math
    import numpy as np
    a, e2, e, mtq = _conic_fwd_helpers()
    lon0, lat0, s1, s2 = -96.0, 23.0, 29.5, 45.5
    m1, _, q1 = mtq(math.radians(s1))
    m2, _, q2 = mtq(math.radians(s2))
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    _, _, q0 = mtq(math.radians(lat0))
    rho0 = a * math.sqrt(C - n * q0) / n
    pts = [(-120.0, 35.0), (-96.0, 23.0), (-75.0, 45.0), (-100.0, 49.0)]
    xy = []
    for lon, lat in pts:
        _, _, q = mtq(math.radians(lat))
        rho = a * math.sqrt(C - n * q) / n
        th = n * math.radians(lon - lon0)
        xy.append((rho * math.sin(th), rho0 - rho * math.cos(th)))
    wkt = ('PROJCS["x",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID['
           '"WGS 84",6378137,298.257223563]]],'
           'PROJECTION["Albers_Conic_Equal_Area"],'
           'PARAMETER["standard_parallel_1",29.5],'
           'PARAMETER["standard_parallel_2",45.5],'
           'PARAMETER["latitude_of_center",23],'
           'PARAMETER["longitude_of_center",-96],UNIT["metre",1]]')
    inv = parser.projection_from_wkt(wkt)
    back = inv(np.array(xy))
    assert np.abs(back - np.array(pts)).max() < 2e-8


def test_conic_inverses_roundtrip_property():
    """Property: for random in-range conic parameters and points, the
    engine inverse recovers what an independently written Snyder forward
    produced — LCC to <1e-8°, Albers to <5e-8° (authalic series
    truncation)."""
    import math
    import numpy as np
    from hypothesis import given, settings, strategies as st

    a, invf = 6378137.0, 298.257223563
    e2 = (2 - 1 / invf) / invf

    @settings(max_examples=25, deadline=None)
    @given(
        lon0=st.floats(-150, 150),
        lat0=st.floats(5, 55),
        dsp1=st.floats(0.5, 8),
        dsp2=st.floats(0.5, 8),
        dlon=st.floats(-15, 15),
        dlat=st.floats(-12, 12),
    )
    def check(lon0, lat0, dsp1, dsp2, dlon, dlat):
        sp1, sp2 = lat0 + dsp1, lat0 + dsp1 + dsp2
        lon, lat = lon0 + dlon, lat0 + dlat

        def mtq(phi):
            return parser._conic_m_t_q(e2, phi)

        # LCC forward (Snyder 15-1..15-10)
        m1, t1, _ = mtq(math.radians(sp1))
        m2, t2, _ = mtq(math.radians(sp2))
        n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
        F = m1 / (n * t1 ** n)
        _, t0, _ = mtq(math.radians(lat0))
        rho0 = a * F * t0 ** n
        _, t, _ = mtq(math.radians(lat))
        rho = a * F * t ** n
        th = n * math.radians(lon - lon0)
        xy = np.array([[rho * math.sin(th), rho0 - rho * math.cos(th)]])
        inv = parser.make_inv_lcc(a, invf, lon0, lat0, sp1, sp2)
        back = inv(xy)[0]
        assert abs(back[0] - lon) < 1e-8 and abs(back[1] - lat) < 1e-8

        # Albers forward (Snyder 14-1..14-15)
        m1a, _, q1 = mtq(math.radians(sp1))
        m2a, _, q2 = mtq(math.radians(sp2))
        na = (m1a * m1a - m2a * m2a) / (q2 - q1)
        C = m1a * m1a + na * q1
        _, _, q0 = mtq(math.radians(lat0))
        rho0a = a * math.sqrt(C - na * q0) / na
        _, _, q = mtq(math.radians(lat))
        rhoa = a * math.sqrt(C - na * q) / na
        tha = na * math.radians(lon - lon0)
        xya = np.array([[rhoa * math.sin(tha),
                         rho0a - rhoa * math.cos(tha)]])
        inva = parser.make_inv_albers(a, invf, lon0, lat0, sp1, sp2)
        backa = inva(xya)[0]
        assert abs(backa[0] - lon) < 5e-8 and abs(backa[1] - lat) < 5e-8

    check()


def test_polar_stereographic_inverse_roundtrip():
    """North (EPSG:3413-style, lat_ts=70, lon0=-45) and south
    (EPSG:3031-style, lat_ts=-71, lon0=0) aspects: forward via Snyder
    21-33/21-34, inverse recovers lon/lat to <1e-9 deg."""
    import math
    import numpy as np
    a, e2, e, mtq = _conic_fwd_helpers()

    def fwd(lon, lat, lon0, lat_ts, south, fe=0.0, fn=0.0):
        ts = abs(lat_ts)
        m_c, t_c, _ = mtq(math.radians(ts))
        scale = a * m_c / t_c
        if south:
            lon, lat, lon0 = -0.0 + lon, lat, lon0  # t with phi -> -lat
            _, t, _ = mtq(math.radians(-lat))
            rho = scale * t
            dl = math.radians(lon - lon0)
            return fe + rho * math.sin(dl), fn + rho * math.cos(dl)
        _, t, _ = mtq(math.radians(lat))
        rho = scale * t
        dl = math.radians(lon - lon0)
        return fe + rho * math.sin(dl), fn - rho * math.cos(dl)

    north_wkt = ('PROJCS["x",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID['
                 '"WGS 84",6378137,298.257223563]]],'
                 'PROJECTION["Polar_Stereographic"],'
                 'PARAMETER["standard_parallel_1",70],'
                 'PARAMETER["central_meridian",-45],'
                 'PARAMETER["false_easting",0],'
                 'PARAMETER["false_northing",0],UNIT["metre",1]]')
    pts_n = [(-30.0, 75.0), (-45.0, 85.0), (100.0, 72.0), (-135.0, 66.0)]
    inv_n = parser.projection_from_wkt(north_wkt)
    xy_n = np.array([fwd(lo, la, -45.0, 70.0, False) for lo, la in pts_n])
    err_n = np.abs(inv_n(xy_n) - np.array(pts_n)).max()
    assert err_n < 1e-9

    south_wkt = ('PROJCS["x",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID['
                 '"WGS 84",6378137,298.257223563]]],'
                 'PROJECTION["Polar_Stereographic"],'
                 'PARAMETER["standard_parallel_1",-71],'
                 'PARAMETER["central_meridian",0],'
                 'PARAMETER["false_easting",0],'
                 'PARAMETER["false_northing",0],UNIT["metre",1]]')
    pts_s = [(0.0, -75.0), (90.0, -80.0), (-120.0, -70.0), (170.0, -88.0)]
    inv_s = parser.projection_from_wkt(south_wkt)
    xy_s = np.array([fwd(lo, la, 0.0, -71.0, True) for lo, la in pts_s])
    err_s = np.abs(inv_s(xy_s) - np.array(pts_s)).max()
    assert err_s < 1e-9

    # generic (oblique) Stereographic now resolves to the EPSG 7-2 double-
    # stereographic kernel (see test_oblique_stereographic_wkt_dispatch)
    # instead of raising: a mid-latitude origin must NOT hit the polar path
    assert parser.projection_from_wkt(
        'PROJCS["x",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS84",'
        '6378137,298.257223563]],UNIT["degree",0.0174532925199433]],'
        'PROJECTION["Stereographic"],'
        'PARAMETER["central_meridian",0],'
        'PARAMETER["latitude_of_origin",45.0],'
        'PARAMETER["scale_factor",1.0],UNIT["metre",1]]') is not None


def test_equirectangular_inverse():
    """Plate-Carrée / Equidistant-Cylindrical: x = a cos(lat1) dlon,
    y = a lat (spherical form) — inverse recovers degrees exactly."""
    import math
    import numpy as np
    a = 6378137.0
    lat1, lon0 = 30.0, 10.0
    cos1 = math.cos(math.radians(lat1))
    pts = [(12.5, 48.1), (-60.0, -15.0), (10.0, 0.0)]
    xy = np.array([[a * cos1 * math.radians(lon - lon0),
                    a * math.radians(lat)] for lon, lat in pts])
    wkt = ('PROJCS["x",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID['
           '"WGS 84",6378137,298.257223563]]],'
           'PROJECTION["Equirectangular"],'
           'PARAMETER["standard_parallel_1",30],'
           'PARAMETER["central_meridian",10],UNIT["metre",1]]')
    inv = parser.projection_from_wkt(wkt)
    back = inv(xy)
    assert np.abs(back - np.array(pts)).max() < 1e-9


def test_projcs_linear_unit_feet():
    """US State Plane in US survey feet: the PROJCS UNIT factor must scale
    raw coordinates AND false eastings before the meter-based inverse —
    treating feet as meters silently corrupts every coordinate."""
    import math
    import numpy as np
    a, e2, e, mtq = _conic_fwd_helpers()
    FT = 0.30480060960121924            # US survey foot
    lon0, lat0, sp1, sp2 = -118.0, 33.5, 34.03, 35.47
    fe_ft, fn_ft = 6561666.667, 1640416.667
    m1, t1, _ = mtq(math.radians(sp1))
    m2, t2, _ = mtq(math.radians(sp2))
    n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    F = m1 / (n * t1 ** n)
    _, t0, _ = mtq(math.radians(lat0))
    rho0 = a * F * t0 ** n
    pts = [(-121.5, 31.2), (-118.0, 34.5), (-114.2, 37.9)]
    xy_ft = []
    for lon, lat in pts:
        _, t, _ = mtq(math.radians(lat))
        rho = a * F * t ** n
        th = n * math.radians(lon - lon0)
        x_m = rho * math.sin(th)
        y_m = rho0 - rho * math.cos(th)
        xy_ft.append((x_m / FT + fe_ft, y_m / FT + fn_ft))
    wkt = ('PROJCS["CA zone 5 ftUS",GEOGCS["WGS 84",DATUM["WGS_1984",'
           'SPHEROID["WGS 84",6378137,298.257223563]],'
           'UNIT["degree",0.0174532925199433]],'
           'PROJECTION["Lambert_Conformal_Conic_2SP"],'
           'PARAMETER["standard_parallel_1",34.03],'
           'PARAMETER["standard_parallel_2",35.47],'
           'PARAMETER["latitude_of_origin",33.5],'
           'PARAMETER["central_meridian",-118],'
           'PARAMETER["false_easting",6561666.667],'
           'PARAMETER["false_northing",1640416.667],'
           'UNIT["US survey foot",0.30480060960121924]]')
    inv = parser.projection_from_wkt(wkt)
    back = inv(np.array(xy_ft))
    assert np.abs(back - np.array(pts)).max() < 1e-8
    # meter-unit WKT still behaves (unit=1 fast path)
    assert parser._wkt_linear_unit('PROJCS["x",UNIT["metre",1]]') == 1.0


def test_laea_oblique_inverse_roundtrip():
    """ETRS89-LAEA (EPSG:3035-shaped) oblique aspect: forward via
    independently written Snyder 24-17..24-21 + 3-12, the engine inverse
    (24-26..24-29 + authalic series 3-18) recovers lon/lat. Tolerance is
    the documented eq. 3-18 series truncation (~1.5 mm)."""
    import math
    import numpy as np
    a, e2, e, mtq = _conic_fwd_helpers()
    lon0, lat0, fe, fn = 10.0, 52.0, 4321000.0, 3210000.0
    qp = (1 - e2) * (1 / (1 - e2) - (1 / (2 * e))
                     * math.log((1 - e) / (1 + e)))
    m1, _, q0 = mtq(math.radians(lat0))
    beta1 = math.asin(q0 / qp)
    rq = a * math.sqrt(qp / 2)
    D = a * m1 / (rq * math.cos(beta1))
    pts = [(10.0, 52.0), (-9.1, 38.7), (24.9, 60.2), (14.5, 35.9),
           (31.0, 68.9)]
    xy = []
    for lon, lat in pts:
        _, _, q = mtq(math.radians(lat))
        beta = math.asin(q / qp)
        dlam = math.radians(lon - lon0)
        B = rq * math.sqrt(2 / (1 + math.sin(beta1) * math.sin(beta)
                                + math.cos(beta1) * math.cos(beta)
                                * math.cos(dlam)))
        xy.append((fe + B * D * math.cos(beta) * math.sin(dlam),
                   fn + (B / D) * (math.cos(beta1) * math.sin(beta)
                                   - math.sin(beta1) * math.cos(beta)
                                   * math.cos(dlam))))
    wkt = ('PROJCS["ETRS89-extended / LAEA Europe",GEOGCS["ETRS89",'
           'DATUM["European_Terrestrial_Reference_System_1989",'
           'SPHEROID["GRS 1980",6378137,298.257223563]],'
           'UNIT["degree",0.0174532925199433]],'
           'PROJECTION["Lambert_Azimuthal_Equal_Area"],'
           'PARAMETER["latitude_of_center",52],'
           'PARAMETER["longitude_of_center",10],'
           'PARAMETER["false_easting",4321000],'
           'PARAMETER["false_northing",3210000],UNIT["metre",1]]')
    inv = parser.projection_from_wkt(wkt)
    back = inv(np.array(xy))
    assert np.abs(back - np.array(pts)).max() < 5e-8
    # projection center roundtrips exactly (rho == 0 branch)
    center = inv(np.array([[fe, fn]]))
    assert np.abs(center - np.array([[lon0, lat0]])).max() < 5e-8


def test_laea_polar_inverse_roundtrip():
    """North-polar LAEA aspect (EPSG:3574-shaped): forward via Snyder
    24-23/24-24 (rho = a*sqrt(qp - q)), inverse recovers."""
    import math
    import numpy as np
    a, e2, e, mtq = _conic_fwd_helpers()
    lon0 = -40.0
    qp = (1 - e2) * (1 / (1 - e2) - (1 / (2 * e))
                     * math.log((1 - e) / (1 + e)))
    pts = [(-40.0, 75.0), (10.0, 64.5), (-130.0, 58.0), (179.0, 81.0)]
    xy = []
    for lon, lat in pts:
        _, _, q = mtq(math.radians(lat))
        rho = a * math.sqrt(qp - q)
        dlam = math.radians(lon - lon0)
        xy.append((rho * math.sin(dlam), -rho * math.cos(dlam)))
    wkt = ('PROJCS["WGS 84 / North Pole LAEA Atlantic",GEOGCS["WGS 84",'
           'DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],'
           'UNIT["degree",0.0174532925199433]],'
           'PROJECTION["Lambert_Azimuthal_Equal_Area"],'
           'PARAMETER["latitude_of_center",90],'
           'PARAMETER["longitude_of_center",-40],'
           'PARAMETER["false_easting",0],'
           'PARAMETER["false_northing",0],UNIT["metre",1]]')
    inv = parser.projection_from_wkt(wkt)
    back = inv(np.array(xy))
    err = np.abs(back - np.array(pts))
    err[:, 0] = np.minimum(err[:, 0], 360.0 - err[:, 0])   # lon wrap at 179
    assert err.max() < 5e-8


def test_mercator_ellipsoidal_inverse_roundtrip():
    """EPSG:3395-style World Mercator (plain Mercator_1SP on WGS84, no
    pseudo-mercator markers): forward via independent Snyder eq. 7-7/7-8
    (y = -a*ln(t)), engine inverse recovers; and the result must DIFFER
    from the spherical web-mercator decode by kilometers — the silent
    corruption the dispatch fix prevents."""
    import math
    import numpy as np
    a, e2, e, mtq = _conic_fwd_helpers()
    pts = [(0.0, 0.0), (12.5, 41.9), (-58.4, -34.6), (151.2, 33.9)]
    xy = []
    for lon, lat in pts:
        _, t, _ = mtq(math.radians(lat))
        xy.append((a * math.radians(lon), -a * math.log(t)))
    wkt = ('PROJCS["WGS 84 / World Mercator",GEOGCS["WGS 84",'
           'DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],'
           'UNIT["degree",0.0174532925199433]],'
           'PROJECTION["Mercator_1SP"],'
           'PARAMETER["central_meridian",0],'
           'PARAMETER["scale_factor",1],'
           'PARAMETER["false_easting",0],'
           'PARAMETER["false_northing",0],UNIT["metre",1],'
           'AUTHORITY["EPSG","3395"]]')
    inv = parser.projection_from_wkt(wkt)
    back = inv(np.array(xy))
    assert np.abs(back - np.array(pts)).max() < 1e-9
    # the sphere inverse applied to the same meters lands ~0.1-0.2 deg off
    sph = parser._inv_webmerc(np.array(xy))
    assert np.abs(sph[1:, 1] - np.array(pts)[1:, 1]).max() > 0.05


def test_mercator_2sp_standard_parallel_roundtrip():
    """Mercator_2SP: k0 comes from the standard parallel (Snyder 14-15)."""
    import math
    import numpy as np
    a, e2, e, mtq = _conic_fwd_helpers()
    sp1 = -41.0
    m1, _, _ = mtq(math.radians(sp1))
    pts = [(174.8, -36.8), (147.3, -42.9)]
    xy = []
    for lon, lat in pts:
        _, t, _ = mtq(math.radians(lat))
        xy.append((a * m1 * math.radians(lon - 100.0),
                   -a * m1 * math.log(t)))
    wkt = ('PROJCS["x",GEOGCS["WGS 84",DATUM["WGS_1984",'
           'SPHEROID["WGS 84",6378137,298.257223563]]],'
           'PROJECTION["Mercator_2SP"],'
           'PARAMETER["standard_parallel_1",-41],'
           'PARAMETER["central_meridian",100],'
           'PARAMETER["false_easting",0],'
           'PARAMETER["false_northing",0],UNIT["metre",1]]')
    inv = parser.projection_from_wkt(wkt)
    back = inv(np.array(xy))
    assert np.abs(back - np.array(pts)).max() < 1e-9


def test_webmercator_markers_still_spherical():
    """The 3857 fixture WKT (Pseudo-Mercator name + authority) keeps the
    spherical path after the ellipsoidal-Mercator dispatch fix."""
    import math
    import numpy as np
    R = 6378137.0
    pts = [(2.3522, 48.8566)]
    xy = [(math.radians(lon) * R,
           math.log(math.tan(math.pi / 4 + math.radians(lat) / 2)) * R)
          for lon, lat in pts]
    inv = parser.projection_from_wkt(writer.WEBMERC_WKT)
    back = inv(np.array(xy))
    assert np.abs(back - np.array(pts)).max() < 1e-9


def test_sinusoidal_modis_sphere_roundtrip():
    """MODIS sinusoidal grid: SPHEROID[...,0] means a true sphere
    (R = 6371007.181) — forward x = R*cos(phi)*dlam, y = R*phi, the
    inverse must recover exactly (all series terms vanish at e = 0)."""
    import math
    import numpy as np
    R = 6371007.181
    lon0 = 0.0
    pts = [(-63.0, -10.0), (20.3, 47.9), (115.0, -31.9), (0.0, 0.0)]
    xy = [(R * math.cos(math.radians(lat)) * math.radians(lon - lon0),
           R * math.radians(lat)) for lon, lat in pts]
    wkt = ('PROJCS["MODIS Sinusoidal",GEOGCS["GCS_Undefined",'
           'DATUM["Undefined",SPHEROID["User_Defined_Spheroid",'
           '6371007.181,0.0]],UNIT["Degree",0.0174532925199433]],'
           'PROJECTION["Sinusoidal"],'
           'PARAMETER["False_Easting",0.0],'
           'PARAMETER["False_Northing",0.0],'
           'PARAMETER["Central_Meridian",0.0],UNIT["Meter",1.0]]')
    inv = parser.projection_from_wkt(wkt)
    back = inv(np.array(xy))
    assert np.abs(back - np.array(pts)).max() < 1e-9


def test_sinusoidal_ellipsoidal_roundtrip():
    """Ellipsoidal sinusoidal on WGS84: forward via independently written
    Snyder 25-1/25-2 (x = a*cos(phi)*dlam/sqrt(1-e2*sin^2), y = M(phi)
    from eq. 3-21), inverse recovers through the rectifying series."""
    import math
    import numpy as np
    a, e2, e, mtq = _conic_fwd_helpers()
    lon0 = -90.0
    pts = [(-100.0, 35.0), (-80.2, 25.8), (-90.0, 0.0), (-60.0, -20.0)]
    xy = []
    for lon, lat in pts:
        phi = math.radians(lat)
        s = math.sin(phi)
        M = a * ((1 - e2 / 4 - 3 * e2 ** 2 / 64 - 5 * e2 ** 3 / 256) * phi
                 - (3 * e2 / 8 + 3 * e2 ** 2 / 32
                    + 45 * e2 ** 3 / 1024) * math.sin(2 * phi)
                 + (15 * e2 ** 2 / 256
                    + 45 * e2 ** 3 / 1024) * math.sin(4 * phi)
                 - (35 * e2 ** 3 / 3072) * math.sin(6 * phi))
        xy.append((a * math.cos(phi) * math.radians(lon - lon0)
                   / math.sqrt(1 - e2 * s * s), M))
    wkt = ('PROJCS["x",GEOGCS["WGS 84",DATUM["WGS_1984",'
           'SPHEROID["WGS 84",6378137,298.257223563]]],'
           'PROJECTION["Sinusoidal"],'
           'PARAMETER["central_meridian",-90],'
           'PARAMETER["false_easting",0],'
           'PARAMETER["false_northing",0],UNIT["metre",1]]')
    inv = parser.projection_from_wkt(wkt)
    back = inv(np.array(xy))
    assert np.abs(back - np.array(pts)).max() < 1e-8


def test_mollweide_inverse_roundtrip():
    """World Mollweide (EPSG:54009 family): forward via independently
    written Snyder 31-1..31-3 (Newton-solve 2t + sin 2t = pi sin(phi),
    x = 2*sqrt(2)/pi * R * dlam * cos t, y = sqrt(2) * R * sin t) — the
    closed-form inverse must recover lon/lat. Spherical-only projection:
    R = semimajor even on a WGS84 datum (PROJ +proj=moll behavior)."""
    import math
    import numpy as np
    R = 6378137.0
    pts = [(-63.0, -10.0), (20.3, 47.9), (115.0, -31.9), (0.0, 0.0),
           (-170.0, 80.0), (12.5, -89.0)]
    xy = []
    for lon, lat in pts:
        phi = math.radians(lat)
        t = phi
        for _ in range(50):
            f = 2.0 * t + math.sin(2.0 * t) - math.pi * math.sin(phi)
            t -= f / (2.0 + 2.0 * math.cos(2.0 * t))
        xy.append((2.0 * math.sqrt(2.0) / math.pi * R
                   * math.radians(lon) * math.cos(t),
                   math.sqrt(2.0) * R * math.sin(t)))
    wkt = ('PROJCS["World_Mollweide",GEOGCS["GCS_WGS_1984",'
           'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,'
           '298.257223563]],PRIMEM["Greenwich",0.0],'
           'UNIT["Degree",0.0174532925199433]],'
           'PROJECTION["Mollweide"],'
           'PARAMETER["False_Easting",0.0],'
           'PARAMETER["False_Northing",0.0],'
           'PARAMETER["Central_Meridian",0.0],UNIT["Meter",1.0]]')
    inv = parser.projection_from_wkt(wkt)
    back = inv(np.array(xy))
    assert np.abs(back - np.array(pts)).max() < 1e-8


def test_oblique_stereographic_epsg_worked_example():
    """EPSG Guidance Note 7-2 worked example for Amersfoort / RD New
    (EPSG:28992, double stereographic on Bessel 1841): E 196105.283,
    N 557057.739 must invert to exactly 53°N 6°E."""
    import numpy as np
    inv = parser.make_inv_oblique_stereo(
        6377397.155, 299.15281,
        5.0 + 23.0 / 60 + 15.5 / 3600,
        52.0 + 9.0 / 60 + 22.178 / 3600,
        0.9999079, 155000.0, 463000.0)
    out = inv(np.array([[196105.283, 557057.739]]))
    assert np.abs(out - np.array([[6.0, 53.0]])).max() < 1e-7


def test_oblique_stereographic_wkt_dispatch():
    """Double_Stereographic WKT routes to the oblique kernel; a plain
    'Stereographic' with a polar origin still routes to the polar kernel."""
    import numpy as np
    rd = ('PROJCS["RD_New",GEOGCS["GCS_Amersfoort",DATUM["D_Amersfoort",'
          'SPHEROID["Bessel_1841",6377397.155,299.15281]],'
          'UNIT["Degree",0.0174532925199433]],'
          'PROJECTION["Double_Stereographic"],'
          'PARAMETER["False_Easting",155000.0],'
          'PARAMETER["False_Northing",463000.0],'
          'PARAMETER["Central_Meridian",5.38763888888889],'
          'PARAMETER["Scale_Factor",0.9999079],'
          'PARAMETER["Latitude_Of_Origin",52.1561605555556],'
          'UNIT["Meter",1.0]]')
    inv = parser.projection_from_wkt(rd)
    out = inv(np.array([[196105.283, 557057.739]]))
    assert np.abs(out - np.array([[6.0, 53.0]])).max() < 1e-7
    polar = ('PROJCS["UPS_N",GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
             'SPHEROID["WGS_1984",6378137.0,298.257223563]],'
             'UNIT["Degree",0.0174532925199433]],'
             'PROJECTION["Stereographic"],'
             'PARAMETER["False_Easting",2000000.0],'
             'PARAMETER["False_Northing",2000000.0],'
             'PARAMETER["Central_Meridian",0.0],'
             'PARAMETER["Scale_Factor",0.994],'
             'PARAMETER["Latitude_Of_Origin",90.0],UNIT["Meter",1.0]]')
    inv_p = parser.projection_from_wkt(polar)
    # north pole maps to the false origin under the polar kernel
    out_p = inv_p(np.array([[2000000.0, 1000000.0]]))
    assert abs(out_p[0, 1] - 81.0) < 1.5  # ~1e6 m south of the pole


def test_hom_epsg_worked_example_and_roundtrip():
    """Hotine Oblique Mercator vs the published EPSG Guidance Note 7-2
    worked example (Timbalai 1948 / RSO Borneo, method 9815 variant B):
    inverse of (679245.73, 596562.78) must be 5°23'14.1129"N,
    115°48'19.8196"E to the example's own precision (~1e-4 arcsec =
    3e-8°). Roundtrip vs the independent forward for both variants."""
    import numpy as np
    from spark_shp.shp import parser

    args = (6377298.556, 300.8017, 115.0, 4.0,
            53 + 18 / 60 + 56.9537 / 3600, 53 + 7 / 60 + 48.3685 / 3600,
            0.99984, 590476.87, 442857.65)
    inv = parser.make_inv_hom(*args, variant="B")
    lon, lat = inv(np.array([[679245.73, 596562.78]]))[0]
    assert abs(lat - (5 + 23 / 60 + 14.1129 / 3600)) < 5e-8
    assert abs(lon - (115 + 48 / 60 + 19.8196 / 3600)) < 5e-8

    for variant in ("A", "B"):
        fwd = parser.hom_forward(*args, variant=variant)
        ivv = parser.make_inv_hom(*args, variant=variant)
        for la in (0.5, 2.0, 4.0, 6.0, 7.5):
            for lo in (112.0, 115.0, 119.0):
                e, n = fwd(lo, la)
                lo2, la2 = ivv(np.array([[e, n]]))[0]
                assert abs(lo2 - lo) < 1e-9 and abs(la2 - la) < 1e-9


def test_hom_wkt_dispatch_variants():
    """ESRI Natural_Origin names route to variant A, Azimuth_Center to B
    (same params, different grid origin -> different coordinates for the
    same grid point, offset by u_c along the rectified axis)."""
    import numpy as np
    from spark_shp.shp import parser

    base = ('PROJCS["x",GEOGCS["g",DATUM["d",'
            'SPHEROID["s",6377298.556,300.8017]]],'
            'PROJECTION["Hotine_Oblique_Mercator_Azimuth_%s"],'
            'PARAMETER["latitude_of_center",4],'
            'PARAMETER["longitude_of_center",115],'
            'PARAMETER["azimuth",53.31582047222222],'
            'PARAMETER["rectified_grid_angle",53.13010236111111],'
            'PARAMETER["scale_factor",0.99984],'
            'PARAMETER["false_easting",0],'
            'PARAMETER["false_northing",0],UNIT["metre",1]]')
    pt = np.array([[100000.0, 100000.0]])
    va = parser.projection_from_wkt(base % "Natural_Origin")(pt)[0]
    vb = parser.projection_from_wkt(base % "Center")(pt)[0]
    assert not np.allclose(va, vb)   # origins differ by u_c
    # both decode to plausible Borneo-region coordinates
    for lon, lat in (va, vb):
        assert 100.0 < lon < 130.0 and -10.0 < lat < 20.0


def test_krovak_epsg_worked_example_and_roundtrip():
    """EPSG Guidance Note 7-2 worked example for S-JTSK / Krovak (method
    9819): lat 50°12'32.4416"N, lon 16°50'59.1790"E Greenwich ->
    Southing 1050538.63, Westing 568991.00 (the azimuth's arc-second
    rounding costs ~2 cm).  The inverse must return the geographic
    coordinates from those grid values, and roundtrip an independent
    forward to <1e-9 degrees across the EPSG:5514 extent."""
    import math
    import numpy as np
    from spark_shp.shp.parser import krovak_constants, make_inv_krovak
    from spark_shp.queries_shp import _KRO_PARAMS

    cst = krovak_constants(*_KRO_PARAMS)

    def fwd(lon_deg, lat_deg):
        e, B, t0 = cst["e"], cst["B"], cst["t0"]
        n, r0, alpha = cst["n"], cst["r0"], cst["alpha"]
        tp, lam0 = cst["tp"], cst["lam0"]
        phi, lam = math.radians(lat_deg), math.radians(lon_deg)
        sp = math.sin(phi)
        u = 2.0 * (math.atan(t0 * math.tan(phi / 2 + math.pi / 4) ** B
                   / ((1 + e * sp) / (1 - e * sp)) ** (e * B / 2))
                   - math.pi / 4)
        v = B * (lam0 - lam)
        t = math.asin(math.cos(alpha) * math.sin(u)
                      + math.sin(alpha) * math.cos(u) * math.cos(v))
        d = math.asin(math.cos(u) * math.sin(v) / math.cos(t))
        r = r0 * tp ** n / math.tan(t / 2 + math.pi / 4) ** n
        return r * math.cos(n * d), r * math.sin(n * d)  # southing, westing

    lat = 50 + 12 / 60 + 32.4416 / 3600
    lon = 16 + 50 / 60 + 59.1790 / 3600
    xs, ys = fwd(lon, lat)
    assert abs(xs - 1050538.63) < 0.05
    assert abs(ys - 568991.00) < 0.05

    inv = make_inv_krovak(*_KRO_PARAMS)
    out = inv(np.array([[-ys, -xs]]))    # EPSG:5514 East-North axes
    assert abs(out[0, 0] - lon) < 1e-9
    assert abs(out[0, 1] - lat) < 1e-9

    rng = np.random.default_rng(3)
    lons = rng.uniform(12.0, 22.5, 200)
    lats = rng.uniform(47.7, 51.1, 200)
    grid = np.array([fwd(lo, la) for lo, la in zip(lons, lats)])
    back = inv(np.column_stack([-grid[:, 1], -grid[:, 0]]))
    assert np.max(np.abs(back[:, 0] - lons)) < 1e-9
    assert np.max(np.abs(back[:, 1] - lats)) < 1e-9


def test_krovak_wkt_dispatch():
    from spark_shp.shp.parser import projection_from_wkt
    from spark_shp.queries_shp import _KRO_WKT
    import numpy as np
    trans = projection_from_wkt(_KRO_WKT)
    assert trans is not None
    out = trans(np.array([[-568990.9967, -1050538.6431]]))
    assert abs(out[0, 0] - 16.84977194) < 1e-6
    assert abs(out[0, 1] - 50.20901156) < 1e-6


def test_cassini_roundtrip_against_independent_forward():
    """Snyder eq. 8-13..8-18 Cassini-Soldner FORWARD (written
    independently of the inverse) roundtrips through the engine inverse to
    <1e-8 degrees across the +-150 km central-meridian band the
    projection is used in."""
    import math
    import numpy as np
    from spark_shp.shp.parser import make_inv_cassini, tmerc_constants
    from spark_shp.queries_shp import _CAS_PARAMS

    a, inv_f, lon0, lat0, fe, fn = _CAS_PARAMS
    c = tmerc_constants(a, inv_f, lon0, lat0, 1.0, fe, fn)
    e2, m_coef, m0 = c["e2"], c["m_coef"], c["m0"]
    ep2 = c["ep2"]

    def meridian_arc(phi):
        return a * (m_coef * phi
                    - (3 * e2 / 8 + 3 * e2 ** 2 / 32
                       + 45 * e2 ** 3 / 1024) * math.sin(2 * phi)
                    + (15 * e2 ** 2 / 256
                       + 45 * e2 ** 3 / 1024) * math.sin(4 * phi)
                    - (35 * e2 ** 3 / 3072) * math.sin(6 * phi))

    def fwd(lon_deg, lat_deg):
        phi = math.radians(lat_deg)
        lam = math.radians(lon_deg) - math.radians(lon0)
        t = math.tan(phi) ** 2
        cc = ep2 * math.cos(phi) ** 2
        A = lam * math.cos(phi)
        n = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        x = n * (A - t * A ** 3 / 6
                 - (8 - t + 8 * cc) * t * A ** 5 / 120)
        y = (meridian_arc(phi) - m0
             + n * math.tan(phi) * (A ** 2 / 2
                                    + (5 - t + 6 * cc) * A ** 4 / 24))
        return x + fe, y + fn

    rng = np.random.default_rng(17)
    lons = rng.uniform(lon0 - 1.9, lon0 + 1.9, 200)
    lats = rng.uniform(lat0 - 0.5, lat0 + 3.0, 200)
    grid = np.array([fwd(lo, la) for lo, la in zip(lons, lats)])
    inv = make_inv_cassini(a, inv_f, lon0, lat0, fe, fn)
    back = inv(grid)
    # 5e-8 deg ~ 5.5 mm: the compounded truncation of the 2-term forward
    # vs 2-term inverse D-series at the +-150 km band edge (the projection
    # is specified for exactly this near-meridian regime)
    assert np.max(np.abs(back[:, 0] - lons)) < 5e-8
    assert np.max(np.abs(back[:, 1] - lats)) < 5e-8


def test_cassini_wkt_dispatch():
    import numpy as np
    from spark_shp.shp.parser import projection_from_wkt
    from spark_shp.queries_shp import _CAS_WKT
    trans = projection_from_wkt(_CAS_WKT)
    assert trans is not None
    # FE/FN map back to the projection origin
    out = trans(np.array([[50000.0, 100000.0]]))
    assert abs(out[0, 0] - 10.0) < 1e-12
    # latitude pays the eq. 3-26 rectifying-series truncation (~2.5e-9 deg)
    assert abs(out[0, 1] - 50.0) < 1e-8


def test_aeqd_roundtrip_against_independent_forward():
    """Snyder eq. 25-1..25-4 spherical Azimuthal Equidistant FORWARD
    (written independently of the inverse: k' = c / sin c about the
    angular distance c from the great-circle cosine rule) roundtrips
    through the engine inverse to <1e-9 degrees across a ~5,700 km disc
    around the oblique center."""
    import math
    import numpy as np
    from spark_shp.shp.parser import make_inv_aeqd
    from spark_shp.queries_shp import _AEQD_PARAMS

    r, lon0, lat0, fe, fn = _AEQD_PARAMS
    sin0, cos0 = math.sin(math.radians(lat0)), math.cos(math.radians(lat0))

    def fwd(lon_deg, lat_deg):
        phi = math.radians(lat_deg)
        dlam = math.radians(lon_deg - lon0)
        cosc = sin0 * math.sin(phi) + cos0 * math.cos(phi) * math.cos(dlam)
        c = math.acos(min(1.0, max(-1.0, cosc)))
        k = 1.0 if c == 0.0 else c / math.sin(c)
        x = r * k * math.cos(phi) * math.sin(dlam)
        y = r * k * (cos0 * math.sin(phi)
                     - sin0 * math.cos(phi) * math.cos(dlam))
        return x + fe, y + fn

    inv = make_inv_aeqd(r, 0.0, lon0, lat0, fe, fn)
    rng = np.random.default_rng(20260819)
    lons = lon0 + rng.uniform(-48.0, 48.0, 200)
    lats = np.clip(lat0 + rng.uniform(-45.0, 45.0, 200), -85.0, 85.0)
    pts = np.array([fwd(lo, la) for lo, la in zip(lons, lats)])
    out = inv(pts)
    assert np.max(np.abs(out[:, 0] - lons)) < 1e-9
    assert np.max(np.abs(out[:, 1] - lats)) < 1e-9


def test_aeqd_wkt_dispatch_and_ellipsoid_raises():
    import numpy as np
    import pytest
    from spark_shp.shp.parser import projection_from_wkt
    from spark_shp.queries_shp import _AEQD_WKT
    trans = projection_from_wkt(_AEQD_WKT)
    assert trans is not None
    # FE/FN map back to the projection origin exactly (closed form)
    out = trans(np.array([[20000.0, -10000.0]]))
    assert abs(out[0, 0] - 30.0) < 1e-12
    assert abs(out[0, 1] - 40.0) < 1e-12
    # an ellipsoidal SPHEROID must raise, not silently sphere-decode
    wkt_ell = _AEQD_WKT.replace(
        'SPHEROID["Sphere",6371000.0,0.0]',
        'SPHEROID["WGS_1984",6378137.0,298.257223563]')
    with pytest.raises(ValueError, match="spherical"):
        projection_from_wkt(wkt_ell)


def test_cea_roundtrip_against_independent_forward():
    """EPSG 9835 Lambert Cylindrical Equal Area FORWARD (written
    independently from the q-function, Snyder eq. 10-1/10-2 ellipsoidal)
    roundtrips through the engine inverse to <1e-9 degrees over the
    EASE-Grid 2.0 (EPSG:6933) domain; the EPSG:6933 corner constant is
    reproduced (x at 180°E ≈ 17,367,530.45 m)."""
    import math
    import numpy as np
    from spark_shp.shp.parser import _conic_m_t_q, make_inv_cea
    from spark_shp.queries_shp import _CEA_PARAMS

    a, inv_f, lon0, sp1, fe, fn = _CEA_PARAMS
    e2 = (2.0 - 1.0 / inv_f) / inv_f
    k0 = math.cos(math.radians(sp1)) / math.sqrt(
        1.0 - e2 * math.sin(math.radians(sp1)) ** 2)

    def fwd(lon_deg, lat_deg):
        _, _, q = _conic_m_t_q(e2, math.radians(lat_deg))
        x = a * k0 * math.radians(lon_deg - lon0)
        y = a * q / (2.0 * k0)
        return x + fe, y + fn

    # the published EPSG:6933 easting of the 180° meridian
    x180, _ = fwd(180.0, 0.0)
    assert abs(x180 - 17367530.45) < 1.0
    inv = make_inv_cea(a, inv_f, lon0, sp1, fe, fn)
    rng = np.random.default_rng(20260820)
    lons = rng.uniform(-179.9, 179.9, 200)
    lats = rng.uniform(-85.9, 85.9, 200)
    pts = np.array([fwd(lo, la) for lo, la in zip(lons, lats)])
    out = inv(pts)
    assert np.max(np.abs(out[:, 0] - lons)) < 1e-9
    assert np.max(np.abs(out[:, 1] - lats)) < 5e-8  # 3-18 series trunc


def test_cea_wkt_dispatch_and_sphere_degeneration():
    import numpy as np
    from spark_shp.shp.parser import make_inv_cea, projection_from_wkt
    from spark_shp.queries_shp import _CEA_WKT
    trans = projection_from_wkt(_CEA_WKT)
    assert trans is not None
    out = trans(np.array([[0.0, 0.0]]))
    assert abs(out[0, 0]) < 1e-12 and abs(out[0, 1]) < 1e-12
    # sphere (inv_f = 0): qp = 2, series vanishes — Behrmann/Gall case
    import math
    inv = make_inv_cea(6371007.0, 0.0, 0.0, 30.0)
    r, k0 = 6371007.0, math.cos(math.radians(30.0))
    y45 = r * math.sin(math.radians(45.0)) / k0
    got = inv(np.array([[0.0, y45]]))
    assert abs(got[0, 1] - 45.0) < 1e-9


def test_polyconic_roundtrip_against_independent_forward():
    """Snyder eq. 18-12..18-15 American Polyconic FORWARD (written
    independently of the inverse) roundtrips through the engine inverse
    to <1e-9 degrees across the fixture band (φ∈[5°,35°], λ within ±5°
    of the central meridian) — also proving the fixed 6-step Newton
    reaches convergence inside the band."""
    import math
    import numpy as np
    from spark_shp.shp.parser import make_inv_polyconic, polyconic_constants
    from spark_shp.queries_shp import _POLY_PARAMS

    a, inv_f, lon0, lat0, fe, fn = _POLY_PARAMS
    c = polyconic_constants(a, inv_f, lon0, lat0, fe, fn)
    e2 = c["e2"]

    def marc(phi):
        return a * (c["c0"] * phi - c["c2"] * math.sin(2 * phi)
                    + c["c4"] * math.sin(4 * phi)
                    - c["c6"] * math.sin(6 * phi))

    def fwd(lon_deg, lat_deg):
        phi = math.radians(lat_deg)
        dlam = math.radians(lon_deg - lon0)
        n = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        ee = dlam * math.sin(phi)
        cot = 1.0 / math.tan(phi)
        x = n * cot * math.sin(ee)
        y = (marc(phi) - a * c["m0a"]
             + n * cot * (1 - math.cos(ee)))
        return x + fe, y + fn

    inv = make_inv_polyconic(a, inv_f, lon0, lat0, fe, fn)
    rng = np.random.default_rng(20260821)
    lons = lon0 + rng.uniform(-5.0, 5.0, 200)
    lats = rng.uniform(5.0, 35.0, 200)
    pts = np.array([fwd(lo, la) for lo, la in zip(lons, lats)])
    out = inv(pts)
    assert np.max(np.abs(out[:, 0] - lons)) < 1e-9
    assert np.max(np.abs(out[:, 1] - lats)) < 1e-9


def test_polyconic_wkt_dispatch():
    import numpy as np
    from spark_shp.shp.parser import projection_from_wkt
    from spark_shp.queries_shp import _POLY_WKT
    trans = projection_from_wkt(_POLY_WKT)
    assert trans is not None
    out = trans(np.array([[5000000.0, 10000000.0 + 1000000.0]]))
    # x = FE -> on the central meridian; y = FN + 1000 km -> north of lat0
    assert abs(out[0, 0] - (-54.0)) < 1e-9
    assert 28.0 < out[0, 1] < 30.0


def test_gnomonic_roundtrip_against_independent_forward():
    """Snyder eq. 22-4/22-5 spherical Gnomonic FORWARD (written
    independently of the inverse: k' = 1/cos c about the angular distance
    c from the great-circle cosine rule) roundtrips through the engine
    inverse to <1e-9 degrees inside c < 60 deg of the oblique center."""
    import math
    import numpy as np
    from spark_shp.shp.parser import make_inv_gnomonic
    from spark_shp.queries_shp import _GNOM_PARAMS

    r, lon0, lat0, fe, fn = _GNOM_PARAMS
    sin0, cos0 = math.sin(math.radians(lat0)), math.cos(math.radians(lat0))

    def fwd(lon_deg, lat_deg):
        phi = math.radians(lat_deg)
        dlam = math.radians(lon_deg - lon0)
        cosc = sin0 * math.sin(phi) + cos0 * math.cos(phi) * math.cos(dlam)
        kp = 1.0 / cosc                       # Snyder 22-3
        x = r * kp * math.cos(phi) * math.sin(dlam)
        y = r * kp * (cos0 * math.sin(phi)
                      - sin0 * math.cos(phi) * math.cos(dlam))
        return x + fe, y + fn

    inv = make_inv_gnomonic(r, 0.0, lon0, lat0, fe, fn)
    rng = np.random.default_rng(20260820)
    # keep angular distance well under 90 deg (projection blows up at the
    # horizon): +-35 deg offsets about the (25N, 60W) center
    lons = lon0 + rng.uniform(-35.0, 35.0, 200)
    lats = np.clip(lat0 + rng.uniform(-35.0, 35.0, 200), -80.0, 80.0)
    pts = np.array([fwd(lo, la) for lo, la in zip(lons, lats)])
    out = inv(pts)
    assert np.max(np.abs(out[:, 0] - lons)) < 1e-9
    assert np.max(np.abs(out[:, 1] - lats)) < 1e-9
    # projection center roundtrips exactly (rho == 0 branch)
    out0 = inv(np.array([[fe, fn]]))
    assert abs(out0[0, 0] - lon0) < 1e-12
    assert abs(out0[0, 1] - lat0) < 1e-12


def test_gnomonic_wkt_dispatch_and_ellipsoid_raises():
    import numpy as np
    import pytest
    from spark_shp.shp.parser import projection_from_wkt
    from spark_shp.queries_shp import _GNOM_WKT
    trans = projection_from_wkt(_GNOM_WKT)
    assert trans is not None
    out = trans(np.array([[-15000.0, 25000.0]]))
    assert abs(out[0, 0] - (-60.0)) < 1e-12
    assert abs(out[0, 1] - 25.0) < 1e-12
    wkt_ell = _GNOM_WKT.replace(
        'SPHEROID["Sphere",6371000.0,0.0]',
        'SPHEROID["WGS_1984",6378137.0,298.257223563]')
    with pytest.raises(ValueError, match="spherical"):
        projection_from_wkt(wkt_ell)


def test_orthographic_roundtrip_against_independent_forward():
    """Snyder eq. 20-3/20-4 spherical Orthographic FORWARD (written
    independently of the inverse: the plain parallel projection
    x = R cos(phi) sin(dlam)) roundtrips through the engine inverse to
    <1e-9 degrees across the visible hemisphere around the oblique
    center, excluding the horizon rim where the inverse is ill-posed."""
    import math
    import numpy as np
    from spark_shp.shp.parser import make_inv_ortho
    from spark_shp.queries_shp import _ORTHO_PARAMS

    r, lon0, lat0, fe, fn = _ORTHO_PARAMS
    sin0, cos0 = math.sin(math.radians(lat0)), math.cos(math.radians(lat0))

    def fwd(lon_deg, lat_deg):
        phi = math.radians(lat_deg)
        dlam = math.radians(lon_deg - lon0)
        x = r * math.cos(phi) * math.sin(dlam)
        y = r * (cos0 * math.sin(phi)
                 - sin0 * math.cos(phi) * math.cos(dlam))
        return x + fe, y + fn

    inv = make_inv_ortho(r, 0.0, lon0, lat0, fe, fn)
    rng = np.random.default_rng(20260822)
    lons = lon0 + rng.uniform(-55.0, 55.0, 200)
    lats = np.clip(lat0 + rng.uniform(-55.0, 55.0, 200), -80.0, 80.0)
    pts = np.array([fwd(lo, la) for lo, la in zip(lons, lats)])
    out = inv(pts)
    assert np.max(np.abs(out[:, 0] - lons)) < 1e-9
    assert np.max(np.abs(out[:, 1] - lats)) < 1e-9
    out0 = inv(np.array([[fe, fn]]))
    assert abs(out0[0, 0] - lon0) < 1e-12
    assert abs(out0[0, 1] - lat0) < 1e-12


def test_orthographic_wkt_dispatch_and_ellipsoid_raises():
    import numpy as np
    import pytest
    from spark_shp.shp.parser import projection_from_wkt
    from spark_shp.queries_shp import _ORTHO_WKT
    trans = projection_from_wkt(_ORTHO_WKT)
    assert trans is not None
    out = trans(np.array([[5000.0, -30000.0]]))
    assert abs(out[0, 0] - 135.0) < 1e-12
    assert abs(out[0, 1] - (-20.0)) < 1e-12
    wkt_ell = _ORTHO_WKT.replace(
        'SPHEROID["Sphere",6371000.0,0.0]',
        'SPHEROID["WGS_1984",6378137.0,298.257223563]')
    with pytest.raises(ValueError, match="spherical"):
        projection_from_wkt(wkt_ell)


def test_bonne_roundtrip_against_independent_forward():
    """Snyder eq. 19-3..19-5 Bonne FORWARD (written independently of the
    inverse: rho = a m1/sin(phi1) + M1 - M, E = rho sin T,
    N = a m1/sin(phi1) - rho cos T with T = a m (lam - lam0)/rho)
    roundtrips through the engine inverse to <5e-9 degrees (~0.5 mm:
    the eq. 3-26 rectifying-series truncation vs the full forward arc —
    the Albers 3-18 class) across a +-5 degree window about the
    standard parallel."""
    import math
    import numpy as np
    from spark_shp.shp.parser import bonne_constants, make_inv_bonne
    from spark_shp.queries_shp import _BONNE_PARAMS

    a, inv_f, lon0, lat1, fe, fn = _BONNE_PARAMS
    c = bonne_constants(a, inv_f, lon0, lat1, fe, fn)
    e2, m_coef, m1_arc = c["e2"], c["m_coef"], c["m0"]
    am1s = c["am1s"]

    def meridian_arc(phi):
        return a * (m_coef * phi
                    - (3 * e2 / 8 + 3 * e2 ** 2 / 32
                       + 45 * e2 ** 3 / 1024) * math.sin(2 * phi)
                    + (15 * e2 ** 2 / 256
                       + 45 * e2 ** 3 / 1024) * math.sin(4 * phi)
                    - (35 * e2 ** 3 / 3072) * math.sin(6 * phi))

    def fwd(lon_deg, lat_deg):
        phi = math.radians(lat_deg)
        lam = math.radians(lon_deg - lon0)
        m = math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        rho = am1s + m1_arc - meridian_arc(phi)
        t = a * m * lam / rho
        return rho * math.sin(t) + fe, am1s - rho * math.cos(t) + fn

    rng = np.random.default_rng(23)
    lons = rng.uniform(lon0 - 6.0, lon0 + 6.0, 200)
    lats = rng.uniform(lat1 - 5.0, lat1 + 5.0, 200)
    grid = np.array([fwd(lo, la) for lo, la in zip(lons, lats)])
    inv = make_inv_bonne(a, inv_f, lon0, lat1, fe, fn)
    back = inv(grid)
    assert np.max(np.abs(back[:, 0] - lons)) < 5e-9
    assert np.max(np.abs(back[:, 1] - lats)) < 5e-9


def test_bonne_southern_aspect_roundtrip():
    """Southern standard parallel (the +- of Snyder 19-12 as a sign
    constant): sphere-degenerate case too (inv_f = 0)."""
    import math
    import numpy as np
    from spark_shp.shp.parser import bonne_constants, make_inv_bonne

    a, inv_f, lon0, lat1 = 6371000.0, 0.0, -60.0, -30.0
    c = bonne_constants(a, inv_f, lon0, lat1, 0.0, 0.0)
    am1s, m1_arc = c["am1s"], c["m0"]

    def fwd(lon_deg, lat_deg):
        phi = math.radians(lat_deg)
        lam = math.radians(lon_deg - lon0)
        m = math.cos(phi)
        rho = am1s + m1_arc - a * phi
        t = a * m * lam / rho
        return rho * math.sin(t), am1s - rho * math.cos(t)

    rng = np.random.default_rng(29)
    lons = rng.uniform(lon0 - 8.0, lon0 + 8.0, 100)
    lats = rng.uniform(lat1 - 6.0, lat1 + 6.0, 100)
    grid = np.array([fwd(lo, la) for lo, la in zip(lons, lats)])
    back = make_inv_bonne(a, inv_f, lon0, lat1)(grid)
    assert np.max(np.abs(back[:, 0] - lons)) < 1e-9
    assert np.max(np.abs(back[:, 1] - lats)) < 1e-9


def test_bonne_wkt_dispatch():
    from spark_shp.queries_shp import _BONNE_WKT
    from spark_shp.shp.parser import projection_from_wkt
    import numpy as np
    inv = projection_from_wkt(_BONNE_WKT)
    assert inv is not None
    out = inv(np.array([[600000.0, 200000.0]]))  # FE/FN -> origin
    assert abs(out[0, 0] - 2.5) < 5e-9 and abs(out[0, 1] - 45.0) < 5e-9


def test_eckert4_roundtrip_against_newton_forward():
    """Eckert IV FORWARD via Newton iteration on Snyder eq. 32-17
    (theta + sin theta cos theta + 2 sin theta = (2 + pi/2) sin phi),
    written independently of the closed-form inverse; roundtrip <1e-9
    degrees over the world map."""
    import math
    import numpy as np
    from spark_shp.shp.parser import eckert4_constants, make_inv_eckert4

    a, lon0 = 6378137.0, 10.0
    c = eckert4_constants(a, lon0)

    def fwd(lon_deg, lat_deg):
        phi = math.radians(lat_deg)
        lam = math.radians(lon_deg - lon0)
        rhs = (2.0 + math.pi / 2.0) * math.sin(phi)
        th = phi / 2.0
        for _ in range(30):
            f = th + math.sin(th) * math.cos(th) + 2.0 * math.sin(th) - rhs
            fp = 1.0 + math.cos(2.0 * th) + 2.0 * math.cos(th)
            th -= f / fp
        return c["cx"] * lam * (1.0 + math.cos(th)), c["cy"] * math.sin(th)

    rng = np.random.default_rng(31)
    lons = rng.uniform(lon0 - 170.0, lon0 + 170.0, 200)
    lats = rng.uniform(-85.0, 85.0, 200)
    grid = np.array([fwd(lo, la) for lo, la in zip(lons, lats)])
    back = make_inv_eckert4(a, lon0)(grid)
    assert np.max(np.abs(back[:, 0] - lons)) < 1e-9
    assert np.max(np.abs(back[:, 1] - lats)) < 1e-9


def test_robinson_roundtrip_and_anchors():
    """Robinson FORWARD from the defining table (independent linear
    interpolation in the latitude direction) roundtrips <1e-9 degrees;
    published anchors: x = 0.8487*R*lam at the equator, |y| = 1.3523*R
    at the poles, parallel length 0.5322 factor at 90."""
    import math
    import numpy as np
    from spark_shp.shp.parser import (ROBINSON_PDFE, ROBINSON_PLEN,
                                      ROBINSON_XS, ROBINSON_YS,
                                      make_inv_robinson)

    a, lon0 = 6378137.0, -5.0

    def fwd(lon_deg, lat_deg):
        alat = abs(lat_deg)
        k = min(int(alat // 5), 17)
        t = (alat - 5.0 * k) / 5.0
        pl = ROBINSON_PLEN[k] + t * (ROBINSON_PLEN[k + 1]
                                     - ROBINSON_PLEN[k])
        pd_ = ROBINSON_PDFE[k] + t * (ROBINSON_PDFE[k + 1]
                                      - ROBINSON_PDFE[k])
        x = ROBINSON_XS * a * pl * math.radians(lon_deg - lon0)
        y = math.copysign(ROBINSON_YS * a * pd_, lat_deg)
        return x, y

    rng = np.random.default_rng(37)
    lons = rng.uniform(lon0 - 170.0, lon0 + 170.0, 200)
    lats = rng.uniform(-89.0, 89.0, 200)
    grid = np.array([fwd(lo, la) for lo, la in zip(lons, lats)])
    inv = make_inv_robinson(a, lon0)
    back = inv(grid)
    assert np.max(np.abs(back[:, 0] - lons)) < 1e-9
    assert np.max(np.abs(back[:, 1] - lats)) < 1e-9
    # anchors
    x_eq, y_eq = fwd(lon0 + 100.0, 0.0)
    assert abs(x_eq - ROBINSON_XS * a * math.radians(100.0)) < 1e-6
    assert y_eq == 0.0
    _, y_pole = fwd(lon0, 90.0)
    assert abs(y_pole - ROBINSON_YS * a) < 1e-6
    out = inv(np.array([fwd(lon0 + 60.0, 90.0)]))
    assert abs(out[0, 1] - 90.0) < 1e-9


def test_eckert4_robinson_wkt_dispatch():
    import numpy as np
    from spark_shp.queries_shp import _ECK4_WKT, _ROBIN_WKT
    from spark_shp.shp.parser import projection_from_wkt
    for wkt, lon0 in ((_ECK4_WKT, 10.0), (_ROBIN_WKT, -5.0)):
        inv = projection_from_wkt(wkt)
        assert inv is not None
        out = inv(np.array([[0.0, 0.0]]))
        assert abs(out[0, 0] - lon0) < 1e-9 and abs(out[0, 1]) < 1e-9


def test_miller_roundtrip_and_anchor():
    """Miller FORWARD (Snyder eq. 33-1/33-2: x = R*lam,
    y = R*ln(tan(pi/4 + 0.4*phi))/0.8), written independently of the
    closed-form inverse; roundtrip <1e-9 degrees.  Anchor: at phi=45,
    y/R = ln(tan(63 deg))/0.8 (Snyder's worked example family)."""
    import math
    import numpy as np
    from spark_shp.shp.parser import make_inv_miller

    a, lon0 = 6378137.0, 12.0

    def fwd(lon_deg, lat_deg):
        phi = math.radians(lat_deg)
        lam = math.radians(lon_deg - lon0)
        return a * lam, a * math.log(math.tan(
            math.pi / 4.0 + 0.4 * phi)) / 0.8

    rng = np.random.default_rng(41)
    lons = rng.uniform(lon0 - 170.0, lon0 + 170.0, 200)
    lats = rng.uniform(-89.0, 89.0, 200)
    grid = np.array([fwd(lo, la) for lo, la in zip(lons, lats)])
    back = make_inv_miller(a, lon0)(grid)
    assert np.max(np.abs(back[:, 0] - lons)) < 1e-9
    assert np.max(np.abs(back[:, 1] - lats)) < 1e-9
    _, y45 = fwd(lon0, 45.0)
    assert abs(y45 / a - math.log(math.tan(math.radians(63.0))) / 0.8) < 1e-12


def test_vdg_roundtrip_against_snyder_forward():
    """Van der Grinten FORWARD via Snyder eq. 29-1..29-11 (the A/G/P/Q
    geometric construction), written independently of the closed-form
    cubic inverse; roundtrip <1e-8 degrees over the map disc.  Anchors:
    phi=0 -> x = R*lam, y = 0; lam=lam0 -> the circle's vertical axis."""
    import math
    import numpy as np
    from spark_shp.shp.parser import make_inv_vdg

    a, lon0 = 6378137.0, -7.0

    def fwd(lon_deg, lat_deg):
        phi = math.radians(lat_deg)
        lam = math.radians(lon_deg - lon0)
        if abs(phi) < 1e-14:
            return a * lam, 0.0
        theta = math.asin(abs(2.0 * phi / math.pi))
        if abs(lam) < 1e-14 or abs(abs(phi) - math.pi / 2.0) < 1e-14:
            x = 0.0
            y = math.copysign(
                math.pi * a * math.tan(theta / 2.0), phi)
            return x, y
        A = 0.5 * abs(math.pi / lam - lam / math.pi)
        G = math.cos(theta) / (math.sin(theta) + math.cos(theta) - 1.0)
        P = G * (2.0 / math.sin(theta) - 1.0)
        Q = A * A + G
        p2 = P * P
        x = math.copysign(
            math.pi * a * (A * (G - p2) + math.sqrt(
                A * A * (G - p2) ** 2 - (p2 + A * A) * (G * G - p2)))
            / (p2 + A * A), lam)
        y = math.copysign(
            math.pi * a * (P * Q - A * math.sqrt(
                (A * A + 1.0) * (p2 + A * A) - Q * Q)) / (p2 + A * A),
            phi)
        return x, y

    rng = np.random.default_rng(43)
    lons = rng.uniform(lon0 - 170.0, lon0 + 170.0, 300)
    lats = rng.uniform(-85.0, 85.0, 300)
    keep = np.abs(lats) > 0.5   # fwd's phi->0 limit is a special case
    lons, lats = lons[keep], lats[keep]
    grid = np.array([fwd(lo, la) for lo, la in zip(lons, lats)])
    back = make_inv_vdg(a, lon0)(grid)
    assert np.max(np.abs(back[:, 0] - lons)) < 1e-8
    assert np.max(np.abs(back[:, 1] - lats)) < 1e-8
    # equator anchor: pure cylindrical along y=0
    eq = make_inv_vdg(a, lon0)(np.array([[a * math.radians(30.0), 0.0]]))
    assert abs(eq[0, 0] - (lon0 + 30.0)) < 1e-9 and abs(eq[0, 1]) < 1e-12


def test_miller_vdg_wkt_dispatch():
    import numpy as np
    from spark_shp.queries_shp import _MILLER_WKT, _VDG_WKT
    from spark_shp.shp.parser import projection_from_wkt
    for wkt, lon0 in ((_MILLER_WKT, 12.0), (_VDG_WKT, -7.0)):
        inv = projection_from_wkt(wkt)
        assert inv is not None
        out = inv(np.array([[0.0, 0.0]]))
        assert abs(out[0, 0] - lon0) < 1e-9 and abs(out[0, 1]) < 1e-9


def test_datum_shift_epsg_worked_example():
    """EPSG Guidance Note 7-2, Position Vector 7-param (method 9606)
    worked example — WGS72→WGS84 (tz=4.5 m, rz=0.554", ds=0.219 ppm):
    input 55°N 4°E h=0 on WGS72 must move +0.090" in lat, +0.554" in
    lon (published to 3 decimals of an arc-second)."""
    import numpy as np
    from spark_shp.shp.parser import make_datum_shift

    shift = make_datum_shift(6378135.0, 298.26,
                             (0.0, 0.0, 4.5, 0.0, 0.0, 0.554, 0.219))
    out = shift(np.array([[4.0, 55.0]]))
    assert abs((out[0, 1] - 55.0) * 3600.0 - 0.090) < 2e-3
    assert abs((out[0, 0] - 4.0) * 3600.0 - 0.554) < 2e-3


def test_datum_shift_osgb_greenwich_anchor():
    """The Airy Transit Circle has OSGB36 longitude 0 by construction;
    its WGS84 longitude is the famous ~5.3" W (≈102 m). The single
    national 7-param Helmert is only good to ~5-10 m against the
    grid-based OSTN truth, so assert the shift lands in the published
    band (5.8" here — west, ~100-120 m) rather than a tight value."""
    import numpy as np
    from spark_shp.queries_shp import _TOW_P7
    from spark_shp.shp.parser import make_datum_shift

    shift = make_datum_shift(6377563.396, 299.3249646, _TOW_P7)
    out = shift(np.array([[0.0, 51.4775]]))
    lon_sec = out[0, 0] * 3600.0
    assert -7.0 < lon_sec < -4.5          # west of Greenwich, ~100-140 m
    assert 0.0 < (out[0, 1] - 51.4775) * 3600.0 < 3.0   # small north shift


def test_bowring_matches_iterative_geocentric_to_geodetic():
    """The closed-form Bowring step inside make_datum_shift must agree
    with an INDEPENDENTLY written fixed-point iteration (the proj4-style
    loop) to <1e-9° over a latitude sweep."""
    import math
    import numpy as np
    from spark_shp.queries_shp import _TOW_P7
    from spark_shp.shp.parser import datum_constants, make_datum_shift

    c = dict(datum_constants(6377563.396, 299.3249646, _TOW_P7))
    aw, e2w = c["aw"], c["e2w_aw"] / c["aw"]
    shift = make_datum_shift(6377563.396, 299.3249646, _TOW_P7)
    lats = np.linspace(-80.0, 80.0, 33)
    lons = np.linspace(-170.0, 170.0, 33)
    out = shift(np.column_stack([lons, lats]))
    # rebuild the geocentric coordinates the kernel produced, then solve
    # lat iteratively on WGS84 and compare
    a_s, e2s = c["a_src"], c["e2_src"]
    lam, phi = np.radians(lons), np.radians(lats)
    sp, cp = np.sin(phi), np.cos(phi)
    n = a_s / np.sqrt(1.0 - e2s * sp * sp)
    x, y, z = n * cp * np.cos(lam), n * cp * np.sin(lam), n * (1 - e2s) * sp
    m = c["m"]
    x2 = c["dx"] + m * (x - c["rz"] * y + c["ry"] * z)
    y2 = c["dy"] + m * (c["rz"] * x + y - c["rx"] * z)
    z2 = c["dz"] + m * (-c["ry"] * x + c["rx"] * y + z)
    p = np.sqrt(x2 * x2 + y2 * y2)
    lat_it = np.arctan2(z2, p * (1.0 - e2w))
    for _ in range(12):
        s = np.sin(lat_it)
        nw = aw / np.sqrt(1.0 - e2w * s * s)
        lat_it = np.arctan2(z2 + e2w * nw * s, p)
    assert np.max(np.abs(np.degrees(lat_it) - out[:, 1])) < 1e-9


def test_towgs84_wkt_composition_and_gates():
    """projection_from_wkt must (a) compose the Helmert stage after the
    TM inverse when TOWGS84 is explicit (≈110 m offset vs projection-only
    — the r3 VERDICT divergence), (b) skip the stage for an all-zero
    TOWGS84, (c) apply a PURE shift for a GEOGCS-only WKT with TOWGS84,
    and (d) leave TOWGS84-less WKTs (the ESRI fixtures) byte-stable."""
    import numpy as np
    from spark_shp.queries_shp import _KRO_WKT, _TOW_WKT
    from spark_shp.shp.parser import (_projection_only_from_wkt,
                                      projection_from_wkt)

    pts = np.array([[400000.0, 500000.0]])     # central England
    with_datum = projection_from_wkt(_TOW_WKT)(pts)
    proj_only = _projection_only_from_wkt(_TOW_WKT)(pts)
    dlon_m = abs(with_datum[0, 0] - proj_only[0, 0]) * 111320.0 * 0.62
    assert 60.0 < dlon_m < 160.0               # the ~110 m datum offset

    zero = _TOW_WKT.replace(
        "TOWGS84[446.448,-125.157,542.06,0.15,0.247,0.842,-20.489]",
        "TOWGS84[0,0,0,0,0,0,0]")
    assert np.array_equal(projection_from_wkt(zero)(pts), proj_only)

    geog = ('GEOGCS["OSGB 1936",DATUM["OSGB_1936",'
            'SPHEROID["Airy 1830",6377563.396,299.3249646],'
            'TOWGS84[446.448,-125.157,542.06,0.15,0.247,0.842,-20.489]],'
            'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]')
    out = projection_from_wkt(geog)(np.array([[0.0, 51.4775]]))
    assert abs(out[0, 0] * 3600.0 + 5.8) < 1.5   # pure shift ≈ 5.8" W

    kro = projection_from_wkt(_KRO_WKT)(np.array([[-568990.9967,
                                                   -1050538.6431]]))
    assert abs(kro[0, 0] - 16.84977194) < 1e-6   # no TOWGS84 → unchanged


def test_equalearth_roundtrip_and_equal_area_property():
    """Equal Earth (EPSG:8857): the engine inverse must roundtrip an
    INDEPENDENTLY written forward (the published Šavrič-Patterson-Jenny
    formulas) to <1e-9°, and the forward's numeric Jacobian must equal
    R²·cos(φ) — the equal-area property that uniquely pins the
    polynomial (a wrong coefficient breaks it immediately)."""
    import numpy as np
    from spark_shp.shp.parser import make_inv_equalearth

    a = 6371008.7714
    inv = make_inv_equalearth(a, 0.0)

    def fwd(lon, lat):
        lam, phi = np.radians(lon), np.radians(lat)
        m = np.sqrt(3.0) / 2.0
        th = np.arcsin(m * np.sin(phi))
        A1, A2, A3, A4 = 1.340264, -0.081106, 0.000893, 0.003796
        th2 = th * th
        th6 = th2 * th2 * th2
        y = a * th * (A1 + A2 * th2 + th6 * (A3 + A4 * th2))
        x = (a * lam * np.cos(th)
             / (m * (A1 + 3 * A2 * th2 + th6 * (7 * A3 + 9 * A4 * th2))))
        return x, y

    lons = np.linspace(-179.0, 179.0, 23)
    lats = np.linspace(-88.0, 88.0, 21)
    lo, la = np.meshgrid(lons, lats)
    x, y = fwd(lo.ravel(), la.ravel())
    out = inv(np.column_stack([x, y]))
    assert np.abs(out - np.column_stack([lo.ravel(),
                                         la.ravel()])).max() < 1e-9

    for lat0 in (-67.0, 0.0, 23.5, 51.0, 80.0):
        eps = 1e-6
        x0, y0 = fwd(37.0, lat0)
        xl, yl = fwd(37.0 + eps, lat0)
        xp, yp = fwd(37.0, lat0 + eps)
        jac = (abs((xl - x0) * (yp - y0) - (xp - x0) * (yl - y0))
               / np.radians(eps) ** 2)
        assert abs(jac / (a * a * np.cos(np.radians(lat0))) - 1.0) < 1e-5


def test_equalearth_wkt_dispatch():
    import numpy as np
    from spark_shp.queries_shp import _EE_WKT
    from spark_shp.shp.parser import projection_from_wkt

    inv = projection_from_wkt(_EE_WKT)
    assert inv is not None
    out = inv(np.array([[0.0, 0.0]]))
    assert abs(out[0, 0] - 11.0) < 1e-9 and abs(out[0, 1]) < 1e-9


def test_krovak_3param_datum_offset_magnitude():
    """The S-JTSK 3-param TOWGS84 must move Krovak-decoded coordinates by
    the plausible national-transform magnitude (~90-160 m) and leave the
    TOWGS84-less Krovak WKT untouched."""
    import numpy as np
    from spark_shp.queries_shp import _KRO_DATUM_WKT, _KRO_WKT
    from spark_shp.shp.parser import projection_from_wkt

    pts = np.array([[-568990.9967, -1050538.6431]])
    bare = projection_from_wkt(_KRO_WKT)(pts)
    shifted = projection_from_wkt(_KRO_DATUM_WKT)(pts)
    dlat_m = abs(shifted[0, 1] - bare[0, 1]) * 111320.0
    dlon_m = (abs(shifted[0, 0] - bare[0, 0]) * 111320.0
              * np.cos(np.radians(50.0)))
    dist = (dlat_m ** 2 + dlon_m ** 2) ** 0.5
    assert 60.0 < dist < 200.0


def test_projcs_without_projection_never_bare_shifts():
    """ADVICE r4 #1: a PROJCS WKT whose projection inverse can't resolve
    (no PROJECTION tag) but that carries a non-zero TOWGS84 must NOT fall
    through to the bare Helmert branch — shifting projected meters as
    degrees yields in-range but wrong lon/lat. It must behave exactly as
    it did pre-datum-support: identity passthrough (None)."""
    import numpy as np
    wkt = ('PROJCS["Broken_Grid",GEOGCS["GCS_OSGB_1936",'
           'DATUM["D_OSGB_1936",SPHEROID["Airy_1830",6377563.396,299.3249646],'
           'TOWGS84[446.448,-125.157,542.06,0.15,0.247,0.842,-20.489]],'
           'PRIMEM["Greenwich",0],UNIT["Degree",0.0174532925199433]],'
           'UNIT["Meter",1.0]]')
    assert parser.projection_from_wkt(wkt) is None
    # the GEOGCS-only sibling (genuinely geographic) still gets the shift
    geog = ('GEOGCS["GCS_OSGB_1936",'
            'DATUM["D_OSGB_1936",SPHEROID["Airy_1830",6377563.396,299.3249646],'
            'TOWGS84[446.448,-125.157,542.06,0.15,0.247,0.842,-20.489]],'
            'PRIMEM["Greenwich",0],UNIT["Degree",0.0174532925199433]]')
    f = parser.projection_from_wkt(geog)
    assert f is not None
    out = f(np.array([[-2.0, 52.0]]))
    # OSGB36->WGS84 moves points by ~100-130 m, never degrees-scale
    d_m = np.hypot((out[0, 0] + 2.0) * 111320.0 * np.cos(np.radians(52)),
                   (out[0, 1] - 52.0) * 111320.0)
    assert 50.0 < d_m < 300.0


def test_epsg_3857_is_a_code_not_digits():
    """Only the EPSG code (AUTHORITY["EPSG","3857"], EPSG:3857) or the
    Pseudo/Web-Mercator name markers select the Web-Mercator sphere; the
    digits 3857 inside any other number select nothing."""
    # a geographic CRS whose TOWGS84 holds the digits gets only its shift
    geog = ('GEOGCS["GCS_X",DATUM["D_X",SPHEROID["WGS_1984",6378137.0,'
            '298.257223563],TOWGS84[-0.3857,0,0,0,0,0,0]],'
            'PRIMEM["Greenwich",0],UNIT["Degree",0.0174532925199433]]')
    pt = np.array([[10.0, 50.0]])
    shift = parser.make_datum_shift(6378137.0, 298.257223563,
                                    (-0.3857, 0, 0, 0, 0, 0, 0))
    assert np.array_equal(parser.projection_from_wkt(geog)(pt), shift(pt))
    # an ellipsoidal Mercator whose false easting holds them keeps its
    # false easting: 1,000 km east of the false origin is the same point
    merc = ('PROJCS["M",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",'
            '6378137,298.257223563]]],PROJECTION["Mercator_1SP"],'
            'PARAMETER["central_meridian",0],'
            'PARAMETER["false_easting",%s],UNIT["metre",1]]')
    lons = [parser.projection_from_wkt(merc % fe)(
        np.array([[fe + 1.0e6, 0.0]]))[0, 0] for fe in (385700.0, 4.0e5)]
    assert lons[0] == lons[1] and abs(lons[0] - 8.983) < 1e-3
    # the code itself, in either spelling, still selects the sphere
    webmerc = parser.projection_from_wkt(writer.WEBMERC_WKT)
    xy = np.array([[1.0e6, 5.0e6], [-2.0e6, -1.0e6]])
    for marker in (',AUTHORITY["EPSG","3857"]]', ',EXTENSION["PROJ4",'
                   '"+init=EPSG:3857"]]'):
        wkt = (merc % 0.0)[:-1] + marker
        assert np.array_equal(parser.projection_from_wkt(wkt)(xy),
                              webmerc(xy))


@pytest.mark.parametrize("name", [
    "Transverse_Mercator_South_Orientated",
    "Hotine_Oblique_Mercator_Two_Point_Natural_Origin",
    "Bonne_South_Orientated", "Polar_Stereographic_Variant_C"])
def test_projection_name_matches_whole(name):
    """A PROJECTION name that only starts with a supported family's name
    is another projection: it raises instead of decoding as that family
    (Lo29's South-Orientated TM decoded mirrored into the wrong
    hemisphere)."""
    wkt = ('PROJCS["x",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",'
           f'6378137,298.257223563]]],PROJECTION["{name}"],'
           'PARAMETER["central_meridian",29],UNIT["metre",1]]')
    with pytest.raises(ValueError, match=f'unsupported PROJECTION "{name}"'):
        parser.projection_from_wkt(wkt)


_EQC_WKT = ('PROJCS["x",GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID['
            '"WGS 84",6378137,298.257223563]]],'
            'PROJECTION["Equirectangular"],'
            'PARAMETER["standard_parallel_1",30],'
            'PARAMETER["central_meridian",10],UNIT["metre",1]]')


# (base WKT: _EQC_WKT, writer.WEBMERC_WKT or a queries_shp constant;
# canonical PROJECTION name; its aliases)
_ALIASES = [
    ("_LCC_WKT", "Lambert_Conformal_Conic_2SP",
     ["Lambert_Conformal_Conic", "Lambert_Conformal_Conic_1SP",
      "Lambert Conformal Conic 2SP"]),
    ("_PST_WKT", "Polar_Stereographic",
     ["Polar_Stereographic_Variant_A", "Polar_Stereographic_Variant_B",
      "Stereographic_North_Pole", "Stereographic_South_Pole"]),
    ("_RD_WKT", "Double_Stereographic",
     ["Oblique_Stereographic", "Stereographic"]),
    ("_EQC_WKT", "Equirectangular",
     ["Equidistant_Cylindrical", "Plate_Carree"]),
    ("_LAEA_WKT", "Lambert_Azimuthal_Equal_Area", []),
    ("_ALBERS_WKT", "Albers_Conic_Equal_Area",
     ["Albers", "Albers_Equal_Area"]),
    ("_CAS_WKT", "Cassini", ["Cassini_Soldner"]),
    ("_BONNE_WKT", "Bonne", []),
    ("_KRO_WKT", "Krovak", ["Krovak_North_Orientated"]),
    ("_HOM_WKT", "Hotine_Oblique_Mercator_Azimuth_Natural_Origin",
     ["Hotine_Oblique_Mercator", "Oblique_Mercator"]),
    ("_HOM_WKT", "Hotine_Oblique_Mercator_Azimuth_Center", []),
    ("_UTM_WKT", "Transverse_Mercator", ["TRANSVERSE_MERCATOR"]),
    ("_SINU_WKT", "Sinusoidal", []),
    ("_ECK4_WKT", "Eckert_IV", []),
    ("_ROBIN_WKT", "Robinson", []),
    ("_MOLL_WKT", "Mollweide", []),
    ("_MILLER_WKT", "Miller_Cylindrical", ["Miller"]),
    ("_EE_WKT", "Equal_Earth", []),
    ("_VDG_WKT", "Van_der_Grinten_I", ["Van_der_Grinten"]),
    ("_CEA_WKT", "Lambert_Cylindrical_Equal_Area",
     ["Cylindrical_Equal_Area"]),
    ("_POLY_WKT", "Polyconic", ["American_Polyconic"]),
    ("_GNOM_WKT", "Gnomonic", []),
    ("_ORTHO_WKT", "Orthographic", []),
    ("_AEQD_WKT", "Azimuthal_Equidistant", []),
    ("_MERC3395_WKT", "Mercator_1SP",
     ["Mercator", "Mercator_2SP", "Mercator_Variant_A",
      "Mercator_Variant_B"]),
    ("WEBMERC_WKT", "Mercator_1SP", ["Mercator_Auxiliary_Sphere"]),
]


@pytest.mark.parametrize("base,canonical,aliases", _ALIASES)
def test_projection_aliases_match_canonical(base, canonical, aliases):
    """Every accepted spelling of a family's PROJECTION name decodes a
    fixed point grid bit for bit as the family's canonical name does."""
    from spark_shp import queries_shp
    src = ({"_EQC_WKT": _EQC_WKT, "WEBMERC_WKT": writer.WEBMERC_WKT}.get(base)
           or getattr(queries_shp, base))
    wkt = re.sub(r'PROJECTION\["[^"]*"\]', f'PROJECTION["{canonical}"]', src)
    p = parser._wkt_params(wkt)
    g = np.linspace(-1.0, 1.0, 9)
    grid = np.array([(x, y) for x in g for y in g])
    pts = np.concatenate([grid * s + (p.get("false_easting", 0.0),
                                      p.get("false_northing", 0.0))
                          for s in (1.0e3, 1.0e5, 2.0e6)])
    with np.errstate(all="ignore"):
        want = parser.projection_from_wkt(wkt)(pts)
        assert np.isfinite(want).sum() > len(pts)
        for alias in aliases:
            got = parser.projection_from_wkt(
                wkt.replace(f'PROJECTION["{canonical}"]',
                            f'PROJECTION["{alias}"]'))(pts)
            assert got.tobytes() == want.tobytes(), alias


# --- column-wise decode: differential against the writer's input -------------

import struct

from spark_shp import geom, ingest

_Z_TYPES = (writer.POINTZ, writer.POLYLINEZ, writer.POLYGONZ,
            writer.MULTIPOINTZ)

# shoelace cancels to exactly 0.0 at this magnitude, so the translation
# tie-break of geom.is_clockwise decides the ring: clockwise
TIE_CW = [(1e16, 1e16), (1e16, 1e16 - 2.0), (1e16 - 2.0, 1e16)]
# zero area however translated: not clockwise
FLAT = [(0.0, 0.0), (1.0, 1.0), (2.0, 2.0), (0.0, 0.0)]


def _want(gtype, data):
    """The geometry parse_shp must return for one writer record: M values
    dropped, a missing Z written as 0.0, polygons grouped by
    geom.assemble_rings on each ring's xy."""
    if gtype == writer.NULL:
        return None
    base = writer._BASE_OF.get(gtype, gtype)
    width = 3 if gtype in _Z_TYPES else 2

    def pt(p):
        return [float(v) for v in (list(p) + [0.0])[:width]]

    if base == writer.POINT:
        return {"type": "Point", "coordinates": pt(data)}
    if base == writer.MULTIPOINT:
        return {"type": "MultiPoint", "coordinates": [pt(p) for p in data]}
    parts = [[pt(p) for p in part] for part in data]
    if base == writer.POLYLINE:
        return ({"type": "LineString", "coordinates": parts[0]}
                if len(parts) == 1 else
                {"type": "MultiLineString", "coordinates": parts})
    rings = [np.array([p[:2] for p in part], dtype=float).reshape(-1, 2)
             for part in data]
    polys, k = [], 0
    for poly in geom.assemble_rings(rings):
        polys.append(parts[k:k + len(poly)])
        k += len(poly)
    return ({"type": "Polygon", "coordinates": polys[0]} if len(polys) == 1
            else {"type": "MultiPolygon", "coordinates": polys})


def _rev(ring):
    return list(reversed(ring))


def _near_degenerate(seed, n):
    """Thin triangles far from the origin: shoelace sums within rounding
    of 0, some exactly 0 (the tie-break decides), in both windings."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n):
        off = 10.0 ** rng.integers(6, 17)
        step = rng.choice([0.5, 1.0, 2.0, 4.0])
        out.append([tuple(p) for p in
                    off + rng.integers(-3, 4, (3, 2)) * step])
    return out


_DIFF_CASES = {
    "every_kind": [
        (writer.POINT, (1.5, -2.0)), (writer.NULL, None),
        (writer.POINTZ, (1.0, 2.0, 3.0, 4.0)),
        (writer.POINTM, (5.0, 6.0, 7.0)),
        (writer.MULTIPOINT, [(0.0, 0.0), (1.0, 1.0)]),
        (writer.MULTIPOINTZ, [(0.0, 0.0, 1.0, 9.0), (2.0, 2.0)]),
        (writer.MULTIPOINTM, [(1.0, 2.0, 3.0)]), (writer.NULL, None),
        (writer.POLYLINE, [[(0.0, 0.0), (1.0, 1.0)]]),
        (writer.POLYLINEZ, [[(0.0, 0.0, 1.0), (1.0, 1.0, 2.0)],
                            [(5.0, 5.0, 3.0), (6.0, 6.0, 4.0)]]),
        (writer.POLYLINEM, [[(0.0, 0.0, 7.0), (3.0, 3.0, 8.0)]]),
        (writer.POLYGON, [CW, CCW_HOLE]),
        (writer.POLYGONZ, [[(x, y, x + y) for x, y in CW], CCW_HOLE]),
        (writer.POLYGONM, [CCW_HOLE, CW]), (writer.NULL, None)],
    "holes_both_windings": [
        (writer.POLYGON, [CW, CCW_HOLE, _rev(CCW_HOLE), _shift(CW, 20.0),
                          _shift(CCW_HOLE, 20.0), _rev(_shift(CW, 40.0))]),
        (writer.POLYGON, [_rev(CW), CCW_HOLE, _rev(CCW_HOLE)])],
    "degenerate_rings": [
        (writer.POLYGON, [CW, TIE_CW, FLAT, CCW_HOLE]),
        (writer.POLYGON, [TIE_CW, _rev(TIE_CW), FLAT]),
        (writer.POLYGONZ, [FLAT, TIE_CW, CW]),
        (writer.POLYGON, _near_degenerate(1, 40)),
        (writer.POLYGON, [CW] + _near_degenerate(2, 40))],
    "empty_parts": [
        (writer.POLYLINE, [[], [(0.0, 0.0), (1.0, 1.0)], []]),
        (writer.POLYGON, [CW, [], CCW_HOLE, []]),
        (writer.POLYGON, [[], CW])],
}


@pytest.mark.parametrize("case", sorted(_DIFF_CASES))
def test_columnwise_decode_equals_writer_input(case):
    recs = _DIFF_CASES[case]
    buf = writer.write_shp(recs, header_type=writer.POLYGON)
    assert parser.parse_shp(buf) == [_want(t, d) for t, d in recs]


def _record_starts(buf):
    off, out = 100, []
    while off + 8 <= len(buf):
        out.append(off)
        off += 8 + 2 * struct.unpack_from(">i", buf, off + 4)[0]
    return out


def test_columnwise_decode_length_guards():
    """The header's file length is ignored (here it lies both ways), and a
    truncated trailing record ends the scan at the last intact one."""
    recs = [r for rs in _DIFF_CASES.values() for r in rs]
    buf = writer.write_shp(recs, header_type=writer.POLYGON)
    want = [_want(t, d) for t, d in recs]
    for words in (50, len(buf), 10 ** 6):
        lie = bytearray(buf)
        struct.pack_into(">i", lie, 24, words)
        assert parser.parse_shp(bytes(lie)) == want
    last = _record_starts(buf)[-2]             # the last non-null record
    for cut in (last + 3, last + 12, last + 40):
        assert parser.parse_shp(buf[:cut]) == want[:len(recs) - 2]


def test_points_from_blob_mixed_file_keeps_header_rec_no():
    """A mixed Point/null file takes the column-wise decoder: Point and
    PointZ/M records give their x/y (projected), every other record NaN,
    and rec_no is read from the record headers, also in a slice of the
    file that starts mid-file."""
    recs = [(writer.POINT, (1.0e6, 2.0e6)), (writer.NULL, None),
            (writer.POINTZ, (-3.0e6, 4.0e6, 5.0)),
            (writer.MULTIPOINT, [(1.0, 1.0)]),
            (writer.POINTM, (7.0e5, -8.0e5, 9.0)), (writer.NULL, None)]
    buf = bytearray(writer.write_shp(recs, header_type=writer.POINT))
    starts = _record_starts(buf)
    for k, at in enumerate(starts):
        struct.pack_into(">i", buf, at, 100 + 3 * k)
    buf = bytes(buf)
    assert parser.parse_shp_points_columns(buf) is None
    trans = parser.projection_from_wkt(writer.WEBMERC_WKT)
    xy = trans(np.array([(1.0e6, 2.0e6), (-3.0e6, 4.0e6), (7.0e5, -8.0e5)]))
    nan = float("nan")
    for blob, first in ((buf, 0), (buf[:100] + buf[starts[2]:], 2)):
        df = ingest._points_from_blob(blob, trans, "mixed")
        assert df["rec_no"].tolist() == [100 + 3 * k
                                         for k in range(first, len(recs))]
        assert df["lon"].dtype == df["lat"].dtype == np.float64
        want = [xy[0], (nan, nan), xy[1], (nan, nan), xy[2], (nan, nan)]
        np.testing.assert_array_equal(
            np.column_stack([df["lon"], df["lat"]]),
            np.array(want[first:], dtype=float))


# --- malformed part tables raise, naming the record --------------------------

def _patched(recs, patches, rec_no=7):
    """One-record file with record number ``rec_no`` and the int32 fields
    at the given payload offsets (after the shape type) overwritten."""
    buf = bytearray(writer.write_shp(recs))
    struct.pack_into(">i", buf, 100, rec_no)
    for at, v in patches.items():
        struct.pack_into("<i", buf, 112 + at, v)
    return bytes(buf)


_LINE5 = [[(0.0, 0.0), (1.0, 1.0), (2.0, 0.0)], [(3.0, 3.0), (4.0, 4.0)]]


@pytest.mark.parametrize("recs,patches", [
    # PolyLine: second part starts at 9 of 5 points
    ([(writer.POLYLINE, _LINE5)], {44: 9}),
    # Polygon: second ring starts past numPoints (10)
    ([(writer.POLYGON, [CW, CCW_HOLE])], {44: 12}),
    # negative and decreasing part starts
    ([(writer.POLYLINE, _LINE5)], {40: -1}),
    ([(writer.POLYLINE, _LINE5)], {40: 4}),
    # negative counts
    ([(writer.POLYLINE, _LINE5)], {32: -1}),
    ([(writer.POLYGON, [CW])], {36: -5}),
    ([(writer.MULTIPOINT, [(1.0, 2.0), (3.0, 4.0)])], {32: -1}),
    # counts that overrun the record's content length
    ([(writer.POLYLINE, _LINE5)], {36: 6}),
    ([(writer.POLYGON, [CW])], {32: 1000}),
    ([(writer.MULTIPOINTZ, [(1.0, 2.0, 3.0)])], {32: 3}),
])
def test_malformed_part_table_names_its_record(recs, patches):
    with pytest.raises(ValueError, match=r"record 7\b"):
        parser.parse_shp(_patched(recs, patches))
