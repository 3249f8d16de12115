"""Seeded workloads, correctness gates and tracing for the repo benchmark."""
