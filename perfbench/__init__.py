"""Ingest benchmark for the dx CDC engine: bulk replay, micro-batch
trickle and lake reads, each checked against a DuckDB oracle, with a
traced mode that attributes every Spark job to an engine layer.

Run ``python3 perfbench/run.py --help`` from the repository root; the
README next to this file explains the workloads and metrics.
"""
