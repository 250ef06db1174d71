"""Performance benchmark of the package: seeded workloads, output checks
against pure-Python twins, and a traced run for per-layer metrics.
Entry point: ``python3 perfbench/run.py`` (see run.py)."""
