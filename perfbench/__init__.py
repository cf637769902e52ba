"""Seeded closed-loop benchmark of duckdb_vss_spark; see run.py and METRICS.md."""
