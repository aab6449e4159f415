"""Benchmark of the crawl engine and the image-profile pass (see README.md)."""
