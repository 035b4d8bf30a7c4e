"""Benchmark of the engine: see ``perfbench/run.py``."""
