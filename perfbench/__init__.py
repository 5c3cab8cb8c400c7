"""Benchmark of the noising and resolve pipelines; see README.md."""
