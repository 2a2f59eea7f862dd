"""Benchmark of the CDC / incremental-ingest engine (see run.py)."""
