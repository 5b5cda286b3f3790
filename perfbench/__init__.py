"""Seeded, layer-attributed benchmark of the KG-construction pipeline.

``python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1``
runs one workload; see ``perfbench/README.md``.
"""
