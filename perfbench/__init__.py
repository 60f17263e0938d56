"""Closed-loop benchmark for hielo_spark: see perfbench/README.md."""
