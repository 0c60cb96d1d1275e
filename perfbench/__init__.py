"""Seeded end-to-end benchmark of the wde_spark engine (see README.md)."""
