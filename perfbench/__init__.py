"""Benchmark of the briefly_spark engine: seeded workloads, output checks
and span tracing, driven from outside the package (see README.md)."""
