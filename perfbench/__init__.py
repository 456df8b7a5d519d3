"""End-to-end and per-layer benchmark of ``kgforge.pipeline.run.run_pipeline``.

Run ``python3 perfbench/run.py --workload build --seed 1 --seconds 6 --trace 0``
from the repository root; see ``perfbench/README.md``.
"""
