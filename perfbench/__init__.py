"""Repository benchmark: seeded workloads over the public conversion and
query surfaces, end-to-end and per-layer metrics. Entry point: run.py."""
