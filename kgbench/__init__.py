"""Benchmark of the KG pipeline; run ``python3 kgbench/run.py --help``."""
