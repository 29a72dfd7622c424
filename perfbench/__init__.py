"""Benchmark for the engine: see perfbench/run.py."""
