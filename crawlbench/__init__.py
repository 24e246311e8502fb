"""Crawl benchmark for the memorious_spark engine (see README.md)."""
