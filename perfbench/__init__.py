"""Benchmark of the icelet CDC engine; the entry point is perfbench/run.py."""
