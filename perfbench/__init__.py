"""The repository's benchmark: see run.py and workloads.json."""
