"""Benchmark of the search engine: see README.md in this directory."""
