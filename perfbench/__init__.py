"""Seeded end-to-end benchmark for zappy_spark (see perfbench/README.md)."""
