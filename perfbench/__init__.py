"""Benchmark of the KG engine: see README.md in this directory."""
