"""Benchmark for the streaming analytics engine (see README.md)."""
