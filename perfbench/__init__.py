"""Benchmark for crmint_spark: workloads, inputs and layer tracing."""
