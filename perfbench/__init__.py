"""Benchmark for modlyn_spark; see run.py."""
