"""Benchmark of the engine's services; see README.md."""
