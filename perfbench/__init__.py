"""The repository's benchmark: seeded workloads run against the engine
end to end, with an optional traced run for per-layer figures.  Entry
point: ``python3 perfbench/run.py`` (see its docstring)."""
