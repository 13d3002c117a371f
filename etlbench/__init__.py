"""Benchmark of the weekly photo pipeline and the declared-query suite; see run.py."""
