"""Benchmark of the redeye_spark log pipeline; see README.md."""
