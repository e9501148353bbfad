"""Seeded end-to-end and per-layer benchmark of the marky_spark engine."""
