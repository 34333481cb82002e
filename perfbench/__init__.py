"""Benchmark harness for the link and curate flows."""
