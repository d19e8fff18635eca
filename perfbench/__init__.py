"""Benchmark for the flight stream and the query catalog (see run.py)."""
