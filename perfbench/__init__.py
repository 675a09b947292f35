"""Workflow benchmark for the archiver: backfill, live_follow and repair.

Run from the repository root::

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

See ``perfbench/README.md`` for the workloads, metrics and layer map.
"""
