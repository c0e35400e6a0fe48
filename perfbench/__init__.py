"""Benchmark harness for the user-behavior analytics engine (see run.py)."""
