"""Benchmark for the extraction and dedup pipelines; see README.md."""
