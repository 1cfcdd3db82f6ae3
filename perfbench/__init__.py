"""Benchmark of the CDC engine; run ``python3 perfbench/run.py --help``."""
