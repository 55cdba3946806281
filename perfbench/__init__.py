"""Sketch benchmark for sketchlib (see README.md)."""
