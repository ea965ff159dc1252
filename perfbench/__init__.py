"""Seeded benchmark of the package's three workloads; run it with
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``."""
