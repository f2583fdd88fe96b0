"""End-to-end and per-layer benchmark for the full-text engine (see README.md)."""
