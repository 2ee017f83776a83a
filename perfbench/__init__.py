"""Dedup benchmark package; entry point run.py."""
