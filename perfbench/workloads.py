"""The benchmark's workloads: seeded set-up, one timed pass, its output
check, and the extra layer measurements of a traced run.

Each workload object is created per run. ``setup`` writes the generated
input and computes the reference outputs; a pass is the list ``tasks``,
each run by a pass worker through ``run_task``, and ``check`` compares the
tasks' results against the references; ``layers`` runs the workload's
Spark paths for a traced run (each Spark pass builds a fresh plan, so Spark
cannot reuse a finished shuffle) and measures per-layer times and counts.
"""

from __future__ import annotations

import glob
import os
import pathlib
import shutil
import statistics
import time

import numpy as np

from spark_shp import fixtures, geom, iceberg_layout, spatial

from . import check, gen

N_FENCES = 64
TILE_LEVEL = 12
JOIN_LEVEL = 6

# spatial_kernels: footprints the numpy kernels see per pass; the traced
# Spark query reads the first N_QUERY_IMAGES of them
N_KERNEL_POINTS = 1_000_000
N_QUERY_IMAGES = 250_000
# traced spatial_kernels: the skewed join's input and polygon layer (above
# AUTO_BROADCAST_MAX_POLYS), the kNN sample and its dim layer
N_SKEW_IMAGES = 20_000
N_BIG_POLYS = 4608
N_KNN_POINTS = 200
N_DIMS = 1000

# worker_kernels: images with pixels, and the shapefile directory
N_IMAGES = 600
POINT_LAYERS, POINTS_PER_LAYER = 6, 100_000
SHAPE_LAYERS, SHAPES_PER_LAYER = 4, 300


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def column_bytes(root: str, columns: tuple[str, ...]) -> int:
    """Compressed bytes of ``columns`` in the table's current snapshot,
    summed from the parquet footers: what a scan of them reads."""
    import pyarrow.parquet as pq
    snap = iceberg_layout.table_stats(root)
    total = 0
    for f in snap["files"]:
        md = pq.read_metadata(os.path.join(root, f["path"]))
        for rg in range(md.num_row_groups):
            grp = md.row_group(rg)
            for ci in range(grp.num_columns):
                col = grp.column(ci)
                if col.path_in_schema in columns:
                    total += col.total_compressed_size
    return total


def fence_layer() -> list[list[np.ndarray]]:
    return [fixtures.fence_rings(j) for j in range(N_FENCES)]


def partition_sizes(df) -> list[int]:
    """Rows in each non-empty partition of ``df`` (one job)."""
    from pyspark.sql import functions as F
    return [r[0] for r in df.groupBy(F.spark_partition_id())
            .count().select("count").collect()]


def _layer_time(tracer, name: str, fn):
    """(median time of ``fn`` over two traced runs after one untimed run,
    which pays the plan's first compile; the last run's output)."""
    fn()
    times = []
    for _ in range(2):
        with tracer.span(name):
            t, out = _timed(fn)
        times.append(t)
    return statistics.median(times), out


class Workload:
    """Checks made by a traced run's layer measurements (the timed passes
    are checked by the run loop)."""

    # what ``run_task`` reads; a pass worker receives only these, the
    # references stay with the driver
    task_attrs: tuple[str, ...] = ()

    def __init__(self):
        self.layer_checks = 0
        self.layer_failures: list[str] = []

    def __getstate__(self) -> dict:
        return {k: self.__dict__[k] for k in self.task_attrs}

    def _expect(self, err: str | None) -> None:
        self.layer_checks += 1
        if err:
            self.layer_failures.append(err)


# ---------------------------------------------------------------------------
# fence_join
# ---------------------------------------------------------------------------

class FenceJoin(Workload):
    """North-star query: stored images table -> tile L12 -> broadcast inline
    PIP against the 64-fence layer -> per-fence count + approx tiles."""

    def __init__(self, seed: int, work: str, cpus: int):
        self.seed, self.work, self.cpus = seed, work, cpus
        self.offset = gen.id_offset(seed)
        self.root = os.path.join(work, "images")
        super().__init__()

    def setup(self, spark, tracer) -> dict:
        with tracer.span("iceberg_layout.write"):
            t_write, _ = _timed(lambda: iceberg_layout.write_table(
                gen.images_meta_df(spark, N_QUERY_IMAGES, self.offset,
                                   4 * self.cpus),
                self.root))
        # one scan task per data file (4 per core), so the hot-cell rows
        # spread over tasks the way they do on a large table
        biggest = max(f["bytes"] for f in
                      iceberg_layout.table_stats(self.root)["files"])
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(biggest + 1))
        self.fences = fence_layer()
        self.fences_df = gen.polygons_df(spark, self.fences)
        lon, lat = gen.images_footprint_np(N_QUERY_IMAGES, self.offset)
        self.ref = check.fence_reference(lon, lat, self.fences)
        return {"write_s": t_write, "input_checksum": gen.checksum(lon, lat)}

    def _query(self, spark, root, fences_df):
        from pyspark.sql import functions as F
        img = gen.read_images(spark, root).select("lon", "lat")
        img = spatial.tile_assign(img, "lon", "lat", TILE_LEVEL, "tile_12")
        j = spatial.spatial_join(img, fences_df, "lon", "lat",
                                 level=JOIN_LEVEL, broadcast_cover=True)
        return (j.groupBy("poly_id")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.approx_count_distinct("tile_12").alias("tiles")))

    def run_pass(self, spark, tracer):
        with tracer.span("spatial.spatial_join"):
            return [tuple(r) for r in
                    self._query(spark, self.root, self.fences_df).collect()]

    def check(self, out) -> str | None:
        return check.check_fence_counts(out, self.ref)

    # -- traced-run layer measurements ------------------------------------

    def layers(self, spark, tracer, job_s: float) -> dict:
        from pyspark.sql import functions as F
        m: dict[str, float] = {}

        def points():
            return gen.read_images(spark, self.root).select("lon", "lat")

        def scan_only():
            return points().agg(F.sum("lon"), F.sum("lat")).collect()

        def scan_tile():
            t = spatial.tile_assign(points(), "lon", "lat", TILE_LEVEL, "tile_12")
            return t.agg(F.min("tile_12"), F.max("tile_12")).collect()

        m["iceberg_layout.scan_s"] = _layer_time(tracer, "iceberg_layout.scan",
                                                 scan_only)[0]
        scan_tile_s = _layer_time(tracer, "cells.tile_assign", scan_tile)[0]
        m["iceberg_layout.scan_bytes"] = column_bytes(self.root,
                                                      ("lon_e7", "lat_e7"))
        m["cells.tile_assign_s"] = scan_tile_s - m["iceberg_layout.scan_s"]
        m["spatial.join_s"] = job_s - scan_tile_s
        self.scale_base_s = job_s

        with tracer.span("spatial.counts"):
            pts = spatial.tile_assign(points(), "lon", "lat", JOIN_LEVEL,
                                      "cell_id")
            cover = spatial.polygon_cover(self.fences_df, JOIN_LEVEL)
            m["spatial.cover_rows"] = cover.count()
            sizes = partition_sizes(pts.join(F.broadcast(cover), "cell_id"))
        m["spatial.candidate_pairs"] = sum(sizes)
        m["spatial.partition_skew"] = max(sizes) / statistics.median(sizes)
        pairs = sum(n for n, _ in self.ref.values())
        max_e = max(4 * len(r) for r in self.fences)
        m["spatial.refine_keep_ratio"] = pairs / m["spatial.candidate_pairs"]
        m["geom.pip_tests"] = m["spatial.candidate_pairs"] * max_e
        m.update(self._skew_knn(spark, tracer))
        return m

    def _skew_knn(self, spark, tracer) -> dict:
        """The cell-keyed shuffle join (a layer above the broadcast limit,
        salted) and the exact kNN with brute-force repair. Each runs once
        in the warm JVM, is checked against the reference, and is
        cross-checked against the broadcast plan."""
        import math

        import pandas as pd
        from pyspark.sql import functions as F
        m: dict[str, float] = {}
        root = os.path.join(self.work, "skew_images")
        skew_off = self.offset + N_QUERY_IMAGES
        iceberg_layout.write_table(gen.images_meta_df(
            spark, N_SKEW_IMAGES, skew_off, 4 * self.cpus), root)
        big = gen.big_layer_rings(self.seed, N_BIG_POLYS)
        big_df = gen.polygons_df(spark, big)
        lon, lat = gen.images_footprint_np(N_SKEW_IMAGES, skew_off)
        _, pid = check.layer_membership(lon, lat, big)
        ref = {int(p): int(c) for p, c in zip(*np.unique(pid, return_counts=True))}

        def points():
            return gen.read_images(spark, root).select("lon", "lat")

        def join(**kw):
            j = spatial.spatial_join(points(), big_df, "lon", "lat",
                                     level=JOIN_LEVEL, **kw)
            return {int(r[0]): int(r[1])
                    for r in j.groupBy("poly_id").count().collect()}

        with tracer.span("spatial.skew_join"):
            m["spatial.skew_join_s"], got = _timed(lambda: join(salt_hot=8))
        self._expect(check.check_counts(got, ref, "distributed join"))
        self._expect(check.check_counts(join(broadcast_cover=True), ref,
                                        "broadcast cross-check"))
        pts = spatial.tile_assign(points(), "lon", "lat", JOIN_LEVEL, "_sj_cell")
        salted, hot = spatial.salt_hot_cells(pts, "_sj_cell", top_n=8)
        with tracer.span("spatial.salt"):
            m["spatial.salt_s"] = _timed(hot.collect)[0]
        max_e = max(4 * len(r) for r in big)
        cover = (spatial.polygon_cover_edges(big_df, JOIN_LEVEL, max_e)
                 .withColumnRenamed("cell_id", "_sj_cell"))
        sizes = partition_sizes(salted.join(
            spatial.explode_salts(cover, "_sj_cell", hot).drop("_sj_cell"),
            "_salted_cell"))
        m["spatial.skew_candidate_pairs"] = sum(sizes)
        m["spatial.skew_partition_skew"] = max(sizes) / statistics.median(sizes)

        # kNN: a sample of the skew table's points against seeded dims
        k, max_ring = 4, 2
        sel = np.linspace(0, N_SKEW_IMAGES - 1, N_KNN_POINTS).astype(np.int64)
        dx, dy = gen.dims_np(self.seed, N_DIMS)
        pts_df = spark.createDataFrame(pd.DataFrame(
            {"pid": sel, "lon": lon[sel], "lat": lat[sel]}))
        dims_df = spark.createDataFrame(pd.DataFrame(
            {"did": np.arange(N_DIMS, dtype=np.int64),
             "dlon": dx, "dlat": dy}))
        args = (pts_df, dims_df, k, "lon", "lat", "dlon", "dlat", "did", "pid")
        kref = check.knn_reference(lon[sel], lat[sel], sel, dx, dy,
                                   np.arange(N_DIMS), k)

        def pairs(df):
            return {(int(r.pid), int(r.did)) for r in df.collect()}

        with tracer.span("spatial.knn"):
            m["spatial.knn_s"], got = _timed(
                lambda: pairs(spatial.knn_join_cells_exact(*args)))
        for what, g in (("knn", got), ("knn broadcast cross-check",
                                       pairs(spatial.knn_join_broadcast(*args)))):
            self._expect(None if g == kref else
                         f"{what}: {len(g ^ kref)} pairs differ")
        # knn_join_cells_exact's certification rule applied to its ring
        # candidates: certified = k candidates, all within the ring's
        # guaranteed reach; the rest go to brute-force repair
        level = max(1, min(12, int(math.log(max(
            1.0, N_DIMS * (2 * max_ring + 1) ** 2 / (8 * k)), 4))))
        reach = (max_ring - 1) * min(360.0 / (1 << level), 170.0 / (1 << level))
        per = (spatial.knn_join_cells(*args, level=level, max_ring=max_ring,
                                      keep_dist=True)
               .groupBy("pid").agg(F.count(F.lit(1)).alias("n"),
                                   F.max("_d2").alias("d2")))
        certified = per.where((F.col("n") >= k)
                              & (F.col("d2") <= reach * reach)).count()
        m["spatial.knn_certified_ratio"] = certified / N_KNN_POINTS
        m["spatial.knn_repair_points"] = N_KNN_POINTS - certified
        return m

    def scale_setup(self, spark) -> str:
        """The weak-scaling input: N / nproc rows of the same seed, written
        while the full-width session is still up."""
        root = os.path.join(self.work, "images_scale")
        iceberg_layout.write_table(
            gen.images_meta_df(spark, N_QUERY_IMAGES // self.cpus, self.offset,
                               4 * self.cpus), root)
        return root

    def scale_pass(self, spark, root) -> float:
        """One timed pass of the query over ``root`` (weak scaling)."""
        fences_df = gen.polygons_df(spark, self.fences)
        return _timed(lambda: self._query(spark, root, fences_df).collect())[0]


# ---------------------------------------------------------------------------
# spatial_kernels
# ---------------------------------------------------------------------------

class SpatialKernels(Workload):
    """The numpy kernels of the spatial path on the images footprint
    (fence_join's input, extended to 1M points), spread over the pass
    workers one point range at a time, as Spark's tasks take partitions:
    tile ids (``cells.cell_encode`` L12) of the range, then the even-odd
    ray cast (``geom.crossings_chunked``) of each fence's candidate points
    in the range against the 64-fence layer. A traced run adds the Spark
    side: the north-star query itself (:class:`FenceJoin`), its layers,
    the skewed join, kNN and weak scaling."""

    task_attrs = ("lon", "lat", "chunks", "cands")

    def __init__(self, seed: int, work: str, cpus: int):
        self.fence = FenceJoin(seed, work, cpus)
        self.offset = gen.id_offset(seed)
        self.cpus = cpus
        super().__init__()

    @property
    def rows(self) -> int:
        return N_KERNEL_POINTS

    def setup(self, tracer) -> dict:
        self.lon, self.lat = gen.images_footprint_np(N_KERNEL_POINTS,
                                                     self.offset)
        fences = fence_layer()
        boxes = [check.ring_boxes(rings) for rings in fences]
        edges = [geom.rings_to_edges(rings) for rings in fences]
        # 4 ranges per core, as Spark cuts its input; the hot cell's points
        # are spread over all of them (16 per core took 1.6x longer: each
        # range calls the ray cast once per fence)
        self.chunks = range_bounds(N_KERNEL_POINTS, 4 * self.cpus)
        # each fence's candidates in a range (points in its bounding box)
        # stand in for the cell-cover join, which is the JVM's work, not a
        # numpy kernel
        self.cands, self.ref = [], {}
        for c, (a, b) in enumerate(self.chunks):
            lon, lat = self.lon[a:b], self.lat[a:b]
            per = []
            for f, bx in enumerate(boxes):
                idx = np.nonzero((lon >= bx[:, 0].min()) & (lon <= bx[:, 2].max())
                                 & (lat >= bx[:, 1].min()) & (lat <= bx[:, 3].max()))[0]
                per.append((f, idx, lon[idx], lat[idx], edges[f]))
            self.cands.append(per)
            self.ref.update({(c, f): v for f, v in
                             check.fence_reference(lon, lat, fences).items()})
        return {"input_checksum": gen.checksum(self.lon, self.lat)}

    def tasks(self) -> list[tuple]:
        return [("spatial.partition", c) for c in range(len(self.chunks))]

    def run_task(self, task):
        from spark_shp import cells
        c = task[1]
        a, b = self.chunks[c]
        tile = cells.cell_encode(self.lon[a:b], self.lat[a:b], TILE_LEVEL)
        out = {}
        for f, idx, px, py, edges in self.cands[c]:
            inside = idx[geom.crossings_chunked(px, py, edges) % 2 == 1]
            if len(inside):
                out[(c, f)] = (len(inside), len(np.unique(tile[inside])))
        return out

    def check(self, results: dict) -> str | None:
        got = {}
        for out in results.values():
            got.update(out)
        return check.check_counts(got, self.ref,
                                  "fence point-in-polygon per range")

    def layers(self, spark, tracer) -> dict:
        """The north-star Spark query on the same input, then its layers."""
        fj = self.fence
        write_s = fj.setup(spark, tracer)["write_s"]
        times = []
        for _ in range(4):                 # the first pass pays JIT, codegen
            with tracer.span("fence_join.pass"):
                t, out = _timed(lambda: fj.run_pass(spark, tracer))
            times.append(t)
            self._expect(fj.check(out))
        fence_s = statistics.median(times[1:])
        m = fj.layers(spark, tracer, fence_s)
        m["fence_join.job_s"] = fence_s
        m["iceberg_layout.write_s"] = write_s
        self.layer_checks += fj.layer_checks
        self.layer_failures += fj.layer_failures
        return m

    def scale_setup(self, spark) -> str:
        return self.fence.scale_setup(spark)

    def scale_pass(self, spark, root) -> float:
        return self.fence.scale_pass(spark, root)

    @property
    def scale_base_s(self) -> float:
        return self.fence.scale_base_s


# ---------------------------------------------------------------------------
# worker_kernels
# ---------------------------------------------------------------------------

class KernelCapture:
    """Stands in for a DataFrame handed to a clip operator: it records the
    Arrow-batch function the operator passes to ``mapInPandas`` (and
    serves its broadcast locally), so the benchmark runs exactly the
    code a Python worker runs for that operator, without Spark."""

    def __init__(self):
        from types import SimpleNamespace
        self.sparkSession = SimpleNamespace(sparkContext=SimpleNamespace(
            broadcast=lambda v: SimpleNamespace(value=v)))

    def select(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        return fn


class WorkerKernels(Workload):
    """The Python-worker half of shapefile ingest and raster clip, run by
    the pass workers on the batches a Spark Python worker receives:
    per-file point decode with tile ids and parent buckets, per-layer
    polygon decode, the clip kernel and the phash verify kernel. A traced run adds the Spark side of the same paths
    (ingest jobs, the checkpointed write and its resume, clip jobs)."""

    buckets_parent_steps = 9        # L12 tile -> L3 parent cell bucket
    task_attrs = ("files", "edges", "joined_batches", "image_batches")

    def __init__(self, seed: int, work: str, cpus: int):
        self.seed, self.work, self.cpus = seed, work, cpus
        self.offset = gen.id_offset(seed)
        self.shp_dir = os.path.join(work, "shp")
        self.img_root = os.path.join(work, "images")
        self.rng = np.random.default_rng([seed, 19])
        super().__init__()

    @property
    def rows(self) -> int:
        return (POINT_LAYERS * POINTS_PER_LAYER
                + SHAPE_LAYERS * SHAPES_PER_LAYER + N_IMAGES)

    def setup(self, tracer) -> dict:
        with tracer.span("gen.shapefiles"):
            self.truth = gen.write_shapefile_dir(
                self.shp_dir, self.seed, POINT_LAYERS, POINTS_PER_LAYER,
                SHAPE_LAYERS, SHAPES_PER_LAYER)
        self.files = {p: pathlib.Path(p).read_bytes() for p in
                      sorted(glob.glob(os.path.join(self.shp_dir, "*")))}
        self.shp_bytes = sum(len(b) for b in self.files.values())
        self.fences = fence_layer()
        self.edges = {j: geom.rings_to_edges(r)
                      for j, r in enumerate(self.fences)}
        ids = np.arange(self.offset, self.offset + N_IMAGES, dtype=np.int64)
        meta = fixtures.images_meta(ids)
        # the spatial join's output: one row per (image, fence) pair (the
        # fences overlap, so an image can pair with two), in image order
        pi, pid = check.layer_membership(meta["lon"], meta["lat"], self.fences)
        order = np.lexsort((pid, pi))
        pi, pid = pi[order], pid[order]
        # The traced run writes the images table from spark.range(n, 4 *
        # cpus) (one file per partition) and scans it one task per file, so
        # the clip and phash operators see one batch per range partition
        # (far below maxRecordsPerBatch), and the broadcast join keeps that
        # partitioning. The batches here are cut at the same bounds; the
        # traced run checks that Spark's partitions have these sizes.
        self.bounds = range_bounds(N_IMAGES, 4 * self.cpus)
        with tracer.span("gen.images"):
            self.image_batches = [gen.pixel_batch(ids[a:b]).to_pandas()
                                  for a, b in self.bounds]
        self.joined_batches = []
        for img, (a, b) in zip(self.image_batches, self.bounds):
            sel = (pi >= a) & (pi < b)
            self.joined_batches.append(
                img.iloc[pi[sel] - a].assign(poly_id=pid[sel])
                .reset_index(drop=True))
        fmts = [fixtures.FMTS[i % 3] for i in ids.tolist()]
        self.clip_ref = {(f"img{ids[r]:012d}", p): v
                         for (r, p), v in check.clip_reference(
                             meta["lon"], meta["lat"], meta["w"], meta["h"],
                             self.fences, pi, pid).items()}
        self.phash_ref = check.phash_mismatch_reference(
            ids, meta["w"], meta["h"], fmts, fixtures.image_pixels)
        self.decode_ref = check.decode_reference(
            ids, meta["w"], meta["h"], fmts, fixtures.image_pixels)
        self.points_ref = {name: (len(lon), len(lon) * (len(lon) + 1) // 2,
                                  float(lon.sum()), float(lat.sum()))
                           for name, (lon, lat) in self.truth["points"].items()}
        self.shapes_ref = {k: (v["records"], v["nulls"], v["val_sum"])
                           for k, v in self.truth["shapes"].items()}
        self.bucket_ref = {
            name: check.cell_id_sum(lon, lat,
                                    TILE_LEVEL - self.buckets_parent_steps)
            for name, (lon, lat) in self.truth["points"].items()}
        return {"input_checksum": gen.checksum(
            ids, *[b["phash"].to_numpy() for b in self.image_batches],
            *self.files.values())}

    def tasks(self) -> list[tuple]:
        """One task per shape layer, per image batch and per point file,
        as Spark's read and clip jobs cut them; the larger tasks first."""
        shp = [p for p in self.files if p.endswith(".shp")]
        return ([("ingest.shapes_kernel", p) for p in shp if "/shape" in p]
                + [("clip.raster_vector_clip", i)
                   for i in range(len(self.joined_batches))]
                + [("clip.phash_verify", i)
                   for i in range(len(self.image_batches))]
                + [("ingest.points_kernel", p) for p in shp if "/pts" in p])

    def run_task(self, task):
        from spark_shp import cells, clip, ingest
        from spark_shp.shp import parser
        kind, key = task
        if kind == "ingest.points_kernel":
            prj = self.files.get(key[:-4] + ".prj")
            trans = (parser.projection_from_wkt(prj.decode("ascii"))
                     if prj else None)
            # the per-file kernel of ingest.read_points_fast, then the
            # tile ids and parent buckets of the checkpointed write
            pdf = ingest._points_from_blob(self.files[key], trans,
                                           os.path.basename(key)[:-4])
            lon, lat = pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
            bucket = cells.cell_parent(cells.cell_encode(lon, lat, TILE_LEVEL),
                                       self.buckets_parent_steps)
            return ((len(pdf), int(pdf["rec_no"].sum()), float(lon.sum()),
                     float(lat.sum())), int(bucket.sum()))
        if kind == "ingest.shapes_kernel":
            dbf = parser.parse_dbf(self.files[key[:-4] + ".dbf"])
            # the per-layer decode of ingest.read_shapefiles
            recs = ingest.features_to_records(
                os.path.basename(key)[:-4],
                parser.combine(parser.parse_shp(self.files[key]), dbf))
            return (len(recs), sum(r["is_null"] for r in recs),
                    sum(int(float(r["properties"]["VAL"])) for r in recs))
        if kind == "clip.raster_vector_clip":
            kernel = clip.raster_vector_clip(KernelCapture(), self.edges)
            return {(i, int(p)): int(n)
                    for out in kernel(iter([self.joined_batches[key]]))
                    for i, p, n in zip(out["image_id"], out["poly_id"],
                                       out["n_inside"])}
        kernel = clip.phash_verify(KernelCapture())
        return sum(int((~out["match"]).sum())
                   for out in kernel(iter([self.image_batches[key]])))

    def check(self, results: dict) -> str | None:
        points, buckets, shapes, clipped, mismatch = {}, {}, {}, {}, 0
        for (kind, key), out in results.items():
            if kind == "ingest.points_kernel":
                base = os.path.basename(key)[:-4]
                points[base], buckets[base] = out
            elif kind == "ingest.shapes_kernel":
                shapes[os.path.basename(key)[:-4]] = out
            elif kind == "clip.raster_vector_clip":
                clipped.update(out)
            else:
                mismatch += out
        return (check.check_points(points, self.points_ref)
                or check.check_counts(shapes, self.shapes_ref,
                                      "shapefile decode")
                or check.check_counts(buckets, self.bucket_ref,
                                      "bucket id sums")
                or check.check_counts(clipped, self.clip_ref, "clip")
                or (None if mismatch == self.phash_ref else
                    f"phash mismatches {mismatch}, reference {self.phash_ref}"))

    # -- traced-run layer measurements: the same paths through Spark -------

    def layers(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F
        from spark_shp import cells, clip, ingest, lineage
        m: dict[str, float] = {}
        with tracer.span("iceberg_layout.write"):
            m["iceberg_layout.write_s"] = _timed(
                lambda: iceberg_layout.write_table(
                    gen.images_pixels_df(spark, N_IMAGES, self.offset,
                                         4 * self.cpus), self.img_root))[0]
        # one scan task per data file, as the pass tasks' batches assume
        biggest = max(f["bytes"] for f in
                      iceberg_layout.table_stats(self.img_root)["files"])
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(biggest + 1))
        glob_pts = os.path.join(self.shp_dir, "pts*.shp")
        glob_shapes = os.path.join(self.shp_dir, "shape*")
        fences_df = gen.polygons_df(spark, self.fences)
        images = iceberg_layout.read_table(spark, self.img_root)
        joined = spatial.spatial_join(images, fences_df, "lon", "lat",
                                      level=JOIN_LEVEL, broadcast_cover=True)
        for what, df, batches in (("images", images, self.image_batches),
                                  ("joined", joined, self.joined_batches)):
            want = sorted(len(b) for b in batches if len(b))
            got = sorted(partition_sizes(df))
            self._expect(None if got == want else
                         f"{what} partitions {got}, pass batches {want}")

        def points():
            return {r[0]: (int(r[1]), int(r[2]), float(r[3]), float(r[4]))
                    for r in ingest.read_points_fast(spark, glob_pts)
                    .groupBy("layer").agg(F.count(F.lit(1)), F.sum("rec_no"),
                                          F.sum("lon"), F.sum("lat"))
                    .collect()}

        def shapes():
            return {r[0]: (int(r[1]), int(r[2]), int(r[3]))
                    for r in ingest.read_shapefiles(spark, glob_shapes)
                    .groupBy("layer").agg(
                        F.count(F.lit(1)), F.sum(F.col("is_null").cast("int")),
                        F.sum(F.col("properties")["VAL"].cast("double"))
                        .cast("long"))
                    .collect()}

        def decode():
            return {r[0]: (float(r[1]), int(r[2])) for r in
                    clip.decode_stats(images)
                    .select("image_id", "mean_px", "bytes_decoded").collect()}

        def clip_only():
            return [tuple(r) for r in clip.raster_vector_clip(joined, self.edges)
                    .select("image_id", "poly_id", "n_inside", "n_pixels")
                    .collect()]

        def phash():
            return clip.phash_verify(images).where("NOT match").count()

        def scan():
            return images.agg(F.sum(F.length("bytes")), F.sum("lon")).collect()

        out = {}
        for name, fn in (("ingest.read_points", points),
                         ("ingest.read_shapefiles", shapes),
                         ("iceberg_layout.scan", scan),
                         ("clip.decode", decode), ("clip.clip", clip_only),
                         ("clip.phash_verify", phash)):
            m[name + "_s"], out[name] = _layer_time(tracer, name, fn)
        self._expect(check.check_points(out["ingest.read_points"],
                                        self.points_ref))
        self._expect(check.check_counts(out["ingest.read_shapefiles"],
                                        self.shapes_ref, "spark shapefiles"))
        m["ingest.records"] = sum(v[0] for k in ("ingest.read_points",
                                                 "ingest.read_shapefiles")
                                  for v in out[k].values())
        self._expect(check.check_decode(out["clip.decode"], self.decode_ref))
        rows = out["clip.clip"]
        self._expect(check.check_counts({(i, int(p)): int(n)
                                         for i, p, n, _ in rows},
                                        self.clip_ref, "spark clip"))
        m["clip.pixels_tested"] = sum(r[3] for r in rows)
        m["clip.phash_mismatch"] = out["clip.phash_verify"]
        self._expect(None if m["clip.phash_mismatch"] == self.phash_ref else
                     f"spark phash mismatches {m['clip.phash_mismatch']}, "
                     f"reference {self.phash_ref}")
        m["iceberg_layout.scan_bytes"] = column_bytes(
            self.img_root, ("bytes", "lon"))

        tiles = spatial.tile_assign(ingest.read_points_fast(spark, glob_pts),
                                    "lon", "lat", TILE_LEVEL, "cell")
        bucketed = tiles.withColumn("bucket", F.expr(cells.cell_parent_sql(
            "cell", self.buckets_parent_steps))).localCheckpoint()
        writes, resumes = [], []
        for i in range(2):
            out_dir = os.path.join(self.work, f"lineage-{i}")
            with tracer.span("lineage.write"):
                writes.append(_timed(lambda: lineage.checkpointed_write(
                    bucketed, out_dir, "ingest", cell_col="cell"))[0])
            manifests = sorted(glob.glob(os.path.join(
                out_dir, "_lineage", "ingest-bucket-*.json")))
            lost = self.rng.choice(len(manifests), max(1, len(manifests) // 4),
                                   replace=False)
            for j in lost:
                os.remove(manifests[j])
            with tracer.span("lineage.resume"):
                t, res = _timed(lambda: lineage.checkpointed_write(
                    bucketed, out_dir, "ingest", cell_col="cell"))
            resumes.append(t)
            err = check.check_points(check.lineage_summary(out_dir),
                                     self.points_ref)
            if res != {"done": len(manifests) - len(lost), "new": len(lost)}:
                err = f"resume redid {res}, lost {len(lost)} of {len(manifests)}"
            self._expect(err and f"lineage: {err}")
            written = sum(os.path.getsize(p) for p in glob.glob(
                os.path.join(out_dir, "data", "*", "part.parquet")))
            shutil.rmtree(out_dir, ignore_errors=True)
        m["lineage.write_s"] = statistics.median(writes)
        m["lineage.buckets"] = len(manifests)
        m["lineage.bytes_written_per_input_byte"] = written / self.shp_bytes
        m["lineage.resume_buckets_redone"] = res["new"]
        m["lineage.resume_buckets_skipped"] = res["done"]
        m["resume_s"] = statistics.median(resumes)
        return m


def range_bounds(n: int, parts: int) -> list[tuple[int, int]]:
    """Row bounds of the partitions of ``spark.range(n, numPartitions=parts)``."""
    return [(i * n // parts, (i + 1) * n // parts) for i in range(parts)]


WORKLOADS = {"spatial_kernels": SpatialKernels,
             "worker_kernels": WorkerKernels}
