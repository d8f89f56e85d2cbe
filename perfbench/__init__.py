"""Host-sized benchmark for textsearch_spark (see README.md)."""
