"""End-to-end and per-layer benchmark of the live-data engine (see README.md)."""
