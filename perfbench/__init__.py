"""Seeded end-to-end benchmark for the engine; entry point is ``run.py``."""
