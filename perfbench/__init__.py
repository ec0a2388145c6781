"""Seeded end-to-end benchmark of the KG engine (see run.py)."""
