"""Extraction benchmark: seeded workloads, output checks, per-layer trace.

Run ``python3 perfbench/run.py --workload spans_mixed --seed 1 --seconds 16
--trace 0`` from the repository root; see ``perfbench/README.md``.
"""
