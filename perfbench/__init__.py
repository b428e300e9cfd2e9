"""Seeded workload benchmark for the streaming tick pipeline and the
corpus-curation plans. Entry point: ``python3 perfbench/run.py``."""
