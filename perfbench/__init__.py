"""CDC benchmark: seeded workloads, DuckDB reference, outside-in tracer."""
