"""Workload benchmark for the extraction engine: see README.md."""
