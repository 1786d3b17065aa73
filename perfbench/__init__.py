"""Seeded benchmark of the linear-quadtree engine; see run.py."""
