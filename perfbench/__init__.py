"""Seeded, network-free benchmark of the coldata_spark pipeline and registry.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``.
"""
