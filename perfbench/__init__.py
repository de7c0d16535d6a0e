"""Benchmark of the ingestion service, driven through its HTTP shell.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root; see
``BENCHMARK.json`` for the workloads and metrics.
"""
