"""Benchmark of the library through its public entry points; see run.py."""
