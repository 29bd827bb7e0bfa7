"""Seeded catalog-matching benchmark of the engine (see README.md)."""
