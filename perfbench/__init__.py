"""Benchmark for the order-book engine: see README.md."""
