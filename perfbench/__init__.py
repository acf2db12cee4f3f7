"""Lakehouse benchmark: workloads, timing, tracing and storage accounting."""
