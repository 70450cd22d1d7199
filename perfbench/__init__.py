"""Benchmark for the code index and log import engine (see README.md)."""
