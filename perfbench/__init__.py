"""Job-level benchmark of the resumable extraction jobs.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` runs one workload and prints one JSON line; see run.py.
"""
