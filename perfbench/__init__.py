"""Seeded CDC benchmark for creek_spark; entry point ``perfbench/run.py``."""
