"""Benchmark of the pinot layers under Spark; see README.md."""
