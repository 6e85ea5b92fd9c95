"""Benchmark for the spark-graft engine: see perfbench/README.md."""
