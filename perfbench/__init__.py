"""The engine's benchmark: seeded inputs, workloads, checks and traces."""
