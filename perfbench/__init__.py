"""Benchmark of the log-analytics pipeline; see README.md."""
