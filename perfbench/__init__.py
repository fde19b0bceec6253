"""Benchmark harness for halvesting_geometric_spark; see README.md."""
