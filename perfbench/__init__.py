"""Benchmark harness for validr_spark; see README.md in this directory."""
