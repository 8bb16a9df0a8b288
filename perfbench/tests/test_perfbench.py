"""Tests of the benchmark itself (no Spark): seeded generators, the output
checks, and the tracer.  Run: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import check, gen  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from spark_shp import codecs, fixtures, geom  # noqa: E402
from spark_shp.shp import writer  # noqa: E402


def _shp_dir_checksum(tmp_path, seed, name):
    out = tmp_path / name
    gen.write_shapefile_dir(str(out), seed, 3, 500, 2, 20)
    return gen.checksum(*[p.read_bytes() for p in sorted(out.iterdir())])


def test_generators_are_deterministic_per_seed(tmp_path):
    def inputs(seed):
        off = gen.id_offset(seed)
        lon, lat = gen.images_footprint_np(1000, off)
        rings = gen.big_layer_rings(seed, 50)
        dx, dy = gen.dims_np(seed, 100)
        px = gen.pixel_batch(np.arange(off, off + 6, dtype=np.int64))
        return gen.checksum(lon, lat, np.vstack([r for p in rings for r in p]),
                            dx, dy, *[b.as_py() for b in px.column(1)])

    assert inputs(3) == inputs(3)
    assert inputs(3) != inputs(4)
    assert (_shp_dir_checksum(tmp_path, 5, "a")
            == _shp_dir_checksum(tmp_path, 5, "b"))
    assert (_shp_dir_checksum(tmp_path, 5, "c")
            != _shp_dir_checksum(tmp_path, 6, "d"))


def test_point_shp_bytes_match_the_record_writer():
    rng = np.random.default_rng(0)
    x, y = rng.uniform(-10, 10, 40), rng.uniform(-10, 10, 40)
    ref = writer.write_shp([(writer.POINT, (a, b)) for a, b in zip(x, y)])
    assert gen.point_shp_bytes(x, y) == ref


def test_rect_parity_is_the_engine_ray_cast_on_rectangles():
    rng = np.random.default_rng(1)
    for j in (0, 8, 13, 63):
        rings = fixtures.fence_rings(j)
        b = check.ring_boxes(rings)
        px = rng.uniform(b[:, 0].min() - 1, b[:, 2].max() + 1, 20_000)
        py = rng.uniform(b[:, 1].min() - 1, b[:, 3].max() + 1, 20_000)
        # include points exactly on the edges, where half-open matters
        px[:8], py[:8] = b[0, [0, 2, 0, 2, 0, 2, 0, 2]], b[0, [1, 1, 3, 3] * 2]
        want = geom.crossings(px, py, geom.rings_to_edges(rings)) % 2 == 1
        assert np.array_equal(check.rect_parity(px, py, b), want)


def test_avg_hash_matches_codecs_phash():
    for i in range(20):
        px = fixtures.image_pixels(i, 16 + 16 * (i % 3), 32)
        assert check.avg_hash(px) == codecs.phash(px)


@pytest.fixture(scope="module")
def fence_case():
    lon, lat = gen.images_footprint_np(20_000, gen.id_offset(7))
    fences = [fixtures.fence_rings(j) for j in range(64)]
    return check.fence_reference(lon, lat, fences)


def test_fence_check_rejects_one_dropped_row(fence_case):
    rows = [(f, n, t) for f, (n, t) in fence_case.items()]
    assert check.check_fence_counts(rows, fence_case) is None
    f, n, t = rows[0]
    assert check.check_fence_counts([(f, n - 1, t)] + rows[1:], fence_case)
    assert check.check_fence_counts(rows[1:], fence_case)


def test_point_and_count_checks_reject_one_dropped_row():
    rng = np.random.default_rng(2)
    lon, lat = rng.uniform(-10, 10, 100), rng.uniform(-10, 10, 100)
    ref = {"pts00": (100, 5050, float(lon.sum()), float(lat.sum()))}
    assert check.check_points(dict(ref), ref) is None
    dropped = {"pts00": (99, 5050 - 100, float(lon[:-1].sum()),
                         float(lat[:-1].sum()))}
    assert check.check_points(dropped, ref)
    clip_ref = {("img1", 63): 40, ("img2", 63): 12}
    assert check.check_counts(dict(clip_ref), clip_ref, "clip") is None
    assert check.check_counts({("img1", 63): 40}, clip_ref, "clip")


def test_decode_check_rejects_one_dropped_row():
    ids = np.arange(3)
    ref = check.decode_reference(ids, [16, 16, 32], [16, 32, 32],
                                 ["raw", "png", "qb"], fixtures.image_pixels)
    assert ref["img000000000002"][1] == 32 * 32 * 3
    assert check.check_decode(dict(ref), ref) is None
    assert check.check_decode({k: ref[k] for k in list(ref)[1:]}, ref)
    mean, nbytes = ref["img000000000000"]
    assert check.check_decode({**ref, "img000000000000": (mean + 0.5, nbytes)},
                              ref)


def test_lineage_summary_reads_back_a_dropped_row(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    for b in (0, 1):
        d = tmp_path / "data" / f"bucket={b}"
        d.mkdir(parents=True)
        n = 3 if b == 0 else 2
        pq.write_table(pa.table({"layer": ["pts00"] * n,
                                 "rec_no": list(range(1 + 3 * b, 1 + 3 * b + n)),
                                 "lon": [1.0] * n, "lat": [2.0] * n}),
                       d / "part.parquet")
    got = check.lineage_summary(str(tmp_path))
    assert got == {"pts00": (5, 15, 5.0, 10.0)}
    assert check.check_points(got, {"pts00": (6, 21, 6.0, 12.0)})


def test_knn_reference_breaks_ties_by_dim_id():
    got = check.knn_reference(np.array([0.0]), np.array([0.0]), np.array([9]),
                              np.array([1.0, -1.0, 0.0, 3.0]),
                              np.array([0.0, 0.0, 1.0, 0.0]),
                              np.array([7, 5, 6, 1]), 2)
    assert got == {(9, 5), (9, 6)}


def test_trace_spans_nest_and_self_time_is_non_negative():
    t = Tracer(True, "r1")
    with t.span("pass"):
        with t.span("a"):
            time.sleep(0.01)
        with t.span("b"):
            with t.span("c"):
                time.sleep(0.01)
    by_name = {s["name"]: s for s in t.spans}
    assert by_name["pass"]["parent"] is None
    assert by_name["a"]["parent"] == by_name["b"]["parent"] == by_name["pass"]["id"]
    assert by_name["c"]["parent"] == by_name["b"]["id"]
    assert all(s["run"] == "r1" for s in t.spans)
    selfs = t.self_times()
    assert all(v >= 0 for v in selfs.values())
    dur = {s["name"]: s["end"] - s["start"] for s in t.spans}
    assert selfs[by_name["pass"]["id"]] == pytest.approx(
        dur["pass"] - dur["a"] - dur["b"])
    assert selfs[by_name["b"]["id"]] == pytest.approx(dur["b"] - dur["c"])


def test_self_time_counts_overlapping_children_once():
    t = Tracer(True, "r3")
    with t.span("pass"):
        t0 = t.spans[0]["start"]
        # tasks of two workers: [1, 3] and [2, 4] overlap, [6, 7] does not
        for a, b in ((1, 3), (2, 4), (6, 7)):
            t.add("task", t0 + a, t0 + b)
        time.sleep(0.01)
    t.spans[0]["end"] = t0 + 10
    assert all(s["parent"] == 0 for s in t.spans[1:])
    assert t.self_times()[0] == pytest.approx(10 - 3 - 1)


def test_cell_id_reference_is_the_engine_layout_and_sees_a_dropped_row():
    from spark_shp import cells
    lon, lat = gen.images_footprint_np(5000, gen.id_offset(11))
    for level in (3, 12):
        ref = check.cell_id_sum(lon, lat, level)
        assert ref == int(cells.cell_encode(lon, lat, level).sum())
        assert ref != int(cells.cell_encode(lon[1:], lat[1:], level).sum())


def test_disabled_tracer_records_nothing():
    t = Tracer(False, "r2")
    with t.span("x"):
        t.count("n", 3)
    assert t.spans == [] and t.counts == {}
