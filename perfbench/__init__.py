"""Seeded end-to-end and per-layer benchmark for onnxtr_spark (see README.md)."""
