"""Benchmark of the datafusion_test_spark engine; see ``run.py``."""
