"""Standalone benchmark harness for pgcdc_spark; see run.py."""
