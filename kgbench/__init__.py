"""Benchmark of the kgforge engine: workloads, tracing and the run entry point."""
