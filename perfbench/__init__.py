"""Seeded end-to-end benchmark of the query engine and the LLM pipeline.

Run one workload with ``python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>`` from the repository root; the
workloads are described in ``run.py``'s docstring and constants, the
metrics and the reasoning behind them in ``metrics.py``.
"""
