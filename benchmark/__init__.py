"""Repository benchmark: three seeded warehouse workloads run end to end
against the package, with per-layer numbers from a separate traced run.

Entry point: ``python3 benchmark/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see ``benchmark/README.md``.
"""
