"""Standalone benchmark of the library analytics engine (see run.py)."""
