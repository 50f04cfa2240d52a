"""Benchmark of the extraction engine: four seeded workloads, end-to-end
metrics from an untraced run and a per-layer ledger from a traced run.
Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``."""
