"""Extraction benchmark for docling_spark (see README.md in this directory)."""
