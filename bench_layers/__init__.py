"""Layered benchmark harness for skar_spark (see run.py)."""
