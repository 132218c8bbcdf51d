"""Benchmark of record: seeded workloads, output checks and per-layer tracing."""
