"""Seeded benchmark for the PageRank engine: ``python3 perfbench/run.py``."""
