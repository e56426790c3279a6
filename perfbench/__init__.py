"""Benchmark of the engine: workloads, correctness checks and tracing."""
