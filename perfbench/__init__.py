"""Benchmark for spark-extract; entry point ``perfbench/run.py``."""
