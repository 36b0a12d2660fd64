"""Standalone benchmark of the nycdb_k8s_loader_spark package; see
NOTES.md and ``python3 perfbench/run.py --help``."""
