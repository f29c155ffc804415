"""The repo benchmark: seeded workloads over the engine, end-to-end and per-layer metrics."""
