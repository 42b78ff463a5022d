"""Benchmark of the lottery warehouse: see README.md."""
