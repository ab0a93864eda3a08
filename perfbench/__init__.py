"""Closed-loop benchmark for sketchlib: seeded workloads over the sketch
protocol (partial -> tree merge -> query) and the curation operators.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``."""
