"""Seeded, output-checked benchmark of the ORC engine; see run.py."""
