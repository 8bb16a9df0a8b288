"""Seeded benchmark for the spark_shp engine (see README.md)."""
