"""Repository benchmark: closed-loop workloads over spype_spark.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds
<s> --trace <0|1>`` from the repository root; see ``README.md``.
"""
