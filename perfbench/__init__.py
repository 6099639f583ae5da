"""Benchmark of the quality-filter engine: see README.md."""
