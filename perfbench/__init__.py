"""Benchmark for the dataflow_mm_spark streaming engine (see README.md)."""
