"""Benchmark of the prism ETL job and the operator registry; see run.py."""
