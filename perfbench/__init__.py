"""Benchmark harness for mie_spark; see README.md and run.py."""
