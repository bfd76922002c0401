"""Benchmark for geomesa_spark: seeded workloads, answer checks and traced
per-layer metrics. Entry point: ``python3 perfbench/run.py``; see README.md.

This package is imported on Spark's Python workers (the traced wrappers
live in ``perfbench.trace``), so importing it must stay cheap.
"""

WORKLOAD_MODULES = {
    "pages_geotag": ("perfbench.pages", "PagesGeotag"),
    "spatial_queries": ("perfbench.spatial", "SpatialQueries"),
}


def workload_class(name: str):
    import importlib

    module, cls = WORKLOAD_MODULES[name]
    return getattr(importlib.import_module(module), cls)
