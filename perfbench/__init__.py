"""Benchmark of the scespet_spark engine; entry point: run.py."""
