"""End-to-end and per-layer benchmark of the validation engine (see run.py)."""
