"""Benchmark harness for sparkgatha (see README.md)."""
