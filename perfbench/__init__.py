"""Benchmark of the fulltext engine; see README.md."""
