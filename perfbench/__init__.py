"""Benchmark of the distributed vector database engine: IVF search serving,
upserts beside search, and full-result registry keys. Entry point:
``perfbench/run.py``; see ``perfbench/README.md``."""
