"""Seeded benchmark of the proj_4_spark engine (see run.py)."""
