"""Data-plane benchmark for vanus_spark (see README.md)."""
