"""Benchmark for the engine package: see README.md in this directory."""
