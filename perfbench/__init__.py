"""Closed-loop benchmark for sketchlib (see perfbench/README.md)."""
