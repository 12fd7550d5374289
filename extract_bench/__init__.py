"""Extraction benchmark: seeded workloads, end-to-end metrics, layer ledger.

Run ``python3 extract_bench/run.py --workload batch-mixed --seed 1
--seconds 15 --trace 0`` from the repository root.
"""
