"""Connector benchmark: workloads, input generators, tracing."""
