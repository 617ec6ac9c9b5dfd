"""Benchmark of the trefoil_spark engine: workloads, metrics and tracing."""
