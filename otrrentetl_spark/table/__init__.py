"""Layers of the keyed parquet table (``operators/merge.py``)."""
