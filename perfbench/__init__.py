"""Benchmark of etielle_spark; run ``python3 perfbench/run.py --help``."""
