"""Benchmark for the transcript feature engine; see README.md."""
