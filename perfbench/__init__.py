"""sparksketch benchmark: seeded workloads over the library's public
operators, exact-answer checks, and a traced per-layer run.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` (see README.md in this directory).
"""
