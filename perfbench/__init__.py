"""Standalone benchmark of the ida-spark package: see README.md."""
