"""Seeded end-to-end benchmark of the Metrica engine (see README.md)."""
