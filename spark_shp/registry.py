"""Merged query registry — the single source for __spark_entry__.py and
tests/bench. Each entry: name → (spark_fn(spark, sf_dir), duckdb_oracle|None).

Registration order is load-bearing: the CORRECTNESS gate of the
``__spark_entry__`` contract evaluates only the first DRIVER_WINDOW
registered queries, so the merge order (queries_shp, then queries_spatial)
is pinned by EXPECTED_WINDOW. Queries past the window stay registered;
tools/diffcheck.py and pytest check every one of them against its oracle.
"""

from __future__ import annotations

from . import queries_shp, queries_spatial

ALL_QUERIES: dict = {}
for mod in (queries_shp, queries_spatial):
    overlap = set(ALL_QUERIES) & set(mod.QUERIES)
    if overlap:
        raise RuntimeError(f"duplicate query names: {overlap}")
    ALL_QUERIES.update(mod.QUERIES)

DRIVER_WINDOW = 50

# The gated window, pinned EXPLICITLY: module and per-module
# registration order are load-bearing, and a count check alone can't catch
# an accidental reorder that swaps a gated query out of the window. Any
# intentional change must update this list.
EXPECTED_WINDOW = (
    "shp_decode_points", "dbf_decode_types", "shp_polygon_rings",
    "shp_polyline_parts", "shp_zm_semantics", "shp_reproject_families",
    "shp_decode_index_join", "shp_webmerc_reproject", "shp_utm_reproject",
    "shp_lcc_reproject", "shp_albers_reproject", "shp_stereo_reproject",
    "shp_laea_reproject", "shp_merc3395_reproject",
    "shp_sinusoidal_reproject", "shp_mollweide_reproject",
    "shp_krovak_reproject", "shp_krovak_datum_reproject",
    "shp_cassini_reproject", "shp_bonne_reproject", "shp_eckert4_reproject",
    "shp_robinson_reproject", "shp_miller_reproject", "shp_vdg_reproject",
    "shp_towgs84_reproject", "shp_equalearth_reproject",
    "shp_aeqd_reproject", "shp_gnomonic_reproject", "shp_ortho_reproject",
    "shp_cea_reproject", "shp_polyconic_reproject",
    "shp_oblique_stereo_reproject", "shp_hom_reproject", "shp_zip_bundle",
    "images_phash_verify", "clip_coverage_stats", "tile_assign_events",
    "cell_hierarchy", "cell_ring_sum", "polygon_cover_nations",
    "spatial_join_pairs", "spatial_join_agg", "spatial_join_chunked",
    "knn_events_nations", "knn_events_nations_cells", "range_join_counts",
    "images_tile_density", "images_hot_cell", "images_fence_join",
    "distance_join_events",
)
if tuple(ALL_QUERIES)[:DRIVER_WINDOW] != EXPECTED_WINDOW:
    raise RuntimeError(
        "driver-window query order drifted from EXPECTED_WINDOW: "
        f"{[(a, b) for a, b in zip(ALL_QUERIES, EXPECTED_WINDOW) if a != b][:5]}")


def queries():
    return {name: fn for name, (fn, _) in ALL_QUERIES.items()}


def oracle_sql():
    return {name: sql for name, (_, sql) in ALL_QUERIES.items()
            if sql is not None}
