"""Benchmark for seraster_spark: see run.py."""
