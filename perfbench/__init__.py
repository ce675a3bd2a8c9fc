"""Benchmark for agentic_doc_spark: four seeded workloads, end-to-end and
per-layer metrics. Entry point: ``python3 perfbench/run.py --help``."""
