"""Benchmark of the columnar encode engine; entry point ``run.py``."""
