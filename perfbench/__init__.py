"""Benchmark of the OPC -> current-values bridge.

Entry point: ``python3 perfbench/run.py --workload NAME --seed N --seconds S
--trace 0|1`` from the repository root (see ``run.py``). Unit tests of its
arithmetic: ``python3 -m pytest perfbench/tests``.
"""
