"""Crawl benchmark for silkworm_spark (run.py is the entry point)."""
