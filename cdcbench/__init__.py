"""CDC engine benchmark: closed-loop workloads over the public engine API.

Run ``python3 cdcbench/run.py --help`` from the repository root.
"""
