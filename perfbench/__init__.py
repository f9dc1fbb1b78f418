"""Repository benchmark for logparse_spark: workloads, output checks and
the traced per-layer run.  Entry point: ``python3 perfbench/run.py``."""
