"""Seeded benchmark of the wellmeet-spark engine; see README.md."""
