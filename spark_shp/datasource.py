"""Python DataSource API connector (SURVEY.md A19 Spark-native path):

    spark.dataSource.register(ShapefileDataSource)
    spark.read.format("shapefile").load("/path/dir_or_glob")

One partition per layer (shapefiles are unsplittable, like gzip — the .shx
offset index is the documented shard-within-file path for many-GB layers);
schema is the engine's geometry DataFrame (ingest.GEOM_SCHEMA) with
coordinates carried as WKB binary for compactness over the wire.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql import types as T

SCHEMA = T.StructType([
    T.StructField("feature_id", T.LongType()),
    T.StructField("layer", T.StringType()),
    T.StructField("geom_type", T.StringType()),
    T.StructField("wkb", T.BinaryType()),
    T.StructField("is_null", T.BooleanType()),
    T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
])


class _LayerPartition(InputPartition):
    def __init__(self, base: str, files: dict[str, str]):
        self.base = base
        self.files = files  # ext -> path


class ShapefileReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("shapefile source requires a path")

    def _layers(self):
        pattern = self.path
        if os.path.isdir(pattern):
            pattern = os.path.join(pattern, "*")
        by_base: dict[str, dict[str, str]] = {}
        for p in sorted(glob.glob(pattern)):
            name = os.path.basename(p)
            if "." not in name:
                continue
            base, ext = name.rsplit(".", 1)
            ext = ext.lower()
            if ext in ("shp", "dbf", "prj", "cpg", "zip"):
                key = name if ext == "zip" else base
                by_base.setdefault(key, {})[ext] = p
        return [(b, fs) for b, fs in by_base.items()
                if "shp" in fs or "zip" in fs]

    def partitions(self):
        return [_LayerPartition(b, fs) for b, fs in self._layers()]

    def read(self, partition: _LayerPartition):
        from . import wkb as wkbmod
        from .shp import parser, zipio

        def emit(layer, feats):
            for i, f in enumerate(feats):
                g = f["geometry"]
                yield (i, layer,
                       g["type"] if g else None,
                       wkbmod.geojson_to_wkb(g) if g else None,
                       g is None,
                       {k: (None if v is None else str(v))
                        for k, v in f["properties"].items()})

        fs = partition.files
        if "zip" in fs:
            with open(fs["zip"], "rb") as fh:
                for lname, feats in zipio.parse_zip(fh.read(),
                                                    path=fs["zip"]):
                    yield from emit(lname, feats)
            return
        with open(fs["shp"], "rb") as fh:
            shp = fh.read()
        trans = None
        if "prj" in fs:
            with open(fs["prj"], "rb") as fh:
                trans = parser.layer_projection(
                    fh.read().decode("ascii", "replace"),
                    fs["prj"].rsplit(".", 1)[0])
        geoms = parser.parse_shp(shp, trans)
        rows = []
        if "dbf" in fs:
            enc = "latin-1"
            if "cpg" in fs:
                with open(fs["cpg"], "rb") as fh:
                    enc = parser.parse_cpg(fh.read())
            with open(fs["dbf"], "rb") as fh:
                rows = parser.parse_dbf(fh.read(), enc)
        yield from emit(partition.base, parser.combine(geoms, rows))


class ShapefileDataSource(DataSource):
    @classmethod
    def name(cls):
        return "shapefile"

    def schema(self):
        return SCHEMA

    def reader(self, schema):
        return ShapefileReader(self.options)
