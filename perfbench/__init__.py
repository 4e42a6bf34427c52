"""Benchmark for s2spark: workloads, probes and tracing (see README.md)."""
