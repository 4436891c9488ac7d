"""Closed-loop benchmark for remote_parallel_map and the DataFrame
query surface. Entry point: ``python3 perfbench/run.py --workload ...``
(see README.md in this directory)."""
