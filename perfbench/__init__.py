"""Benchmark of record for the ingest path; see perfbench/README.md."""
