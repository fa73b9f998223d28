"""Seeded single-machine benchmark of the engine; entry point ``run.py``."""
