"""Benchmark of the sc_crawler_spark engine; see README.md."""
