"""Benchmark of the CDC archival job and the query registry; see README.md."""
