"""Benchmark of record for the healthcare ETL engine; see README.md."""
