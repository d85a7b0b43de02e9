"""Benchmark of the vearch_spark engine; see run.py."""
