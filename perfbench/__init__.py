"""The extraction benchmark: one command (``perfbench/run.py``) that runs a
workload, checks every output and reports end-to-end and per-layer metrics."""
