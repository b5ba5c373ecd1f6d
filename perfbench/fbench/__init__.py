"""Benchmark package: seeded workloads, checks, storage accounting and tracing."""
