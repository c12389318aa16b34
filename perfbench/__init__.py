"""Layered benchmark for the time2feat_spark engine (see run.py)."""
