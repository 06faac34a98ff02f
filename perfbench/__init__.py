"""Benchmark of the cuckoo-filter ops; see README.md."""
