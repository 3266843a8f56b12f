"""The repository's benchmark: seeded workloads over the frontier engine,
their end-to-end and per-layer metrics, and the checks of their outputs.
Entry point: ``python3 perfbench/run.py`` (see ``run.py``)."""
