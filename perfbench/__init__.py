"""Benchmark of the payments lake: workloads, tracing and the runner."""
