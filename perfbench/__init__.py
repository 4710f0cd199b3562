"""The repository's benchmark: three workloads, end-to-end metrics and a
traced per-layer ledger.  Entry point: ``python3 perfbench/run.py``."""
