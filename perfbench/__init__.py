"""Seeded end-to-end and per-layer benchmark of the extraction system.

Run it from the root of a checkout with ``python3 perfbench/run.py``; see
``perfbench/README.md`` for the workloads, the metrics and the contract.
"""
