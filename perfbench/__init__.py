"""Benchmark for the search engine library: see NOTES.md."""
