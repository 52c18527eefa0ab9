"""Warm-session PPRL benchmark: end-to-end and per-layer metrics.

Entry point: ``python3 pprlbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root. See README.md.
"""
