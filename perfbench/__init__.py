"""Benchmark for the fred-spark engine: see run.py and LAYERS.md."""
