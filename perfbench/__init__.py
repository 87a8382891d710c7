"""Benchmark of the sync_spark engine; run ``python3 perfbench/run.py --help``."""
