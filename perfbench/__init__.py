"""Seeded end-to-end and per-layer benchmark for openseize_spark."""
