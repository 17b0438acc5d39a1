"""Benchmark for the addax_spark engine; see README.md."""
