"""Repository benchmark: seeded workloads, answer checks and layer traces."""
