"""Seeded benchmark for supercrawler_spark: workloads, tracing and engine
counters, all measured from outside the engine. Entry point: run.py."""
