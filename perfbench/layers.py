"""The metrics the benchmark reports, with units and direction.

``END_TO_END`` are measured with tracing off; every workload reports each
of them. ``PER_LAYER`` come from the traced run; every traced run reports
each of them, and a layer that a workload bypasses reads 0 there (the
tracer saw no call into it). BENCHMARK.json lists the same names
(asserted by test_checks.py).
"""

from __future__ import annotations

END_TO_END = [
    # (name, unit, better)
    ("setup_s", "s", "lower"),
    ("items_per_s", "items/s", "higher"),
    ("p50_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]

SPATIAL_OPS = ("pip_broadcast", "pip_salted", "pip_auto", "knn", "dwithin", "tiles", "density")
ST_OPS = ("intersection", "union", "difference", "symdifference", "relate")
OVERLAY_CLASSES = ("holed_generic", "holed_snapped", "rect_grid", "gc_overlap")


def _per_layer() -> list[tuple[str, str, str]]:
    m = [
        ("spark.outside_frac", "ratio", "lower"),
        ("spark.null_kernel_pages_per_s", "pages/s", "higher"),
        ("spark.udf_outside_frac", "ratio", "lower"),
    ]
    m += [(f"spark.jobs_per_request.{r}", "count", "lower") for r in SPATIAL_OPS]
    m += [
        ("contract.fused.batch_s", "s", "lower"),
        ("contract.fused.batches", "count", "lower"),
        ("contract.fused.rows_in", "count", "higher"),
        ("contract.fused.rows_out", "count", "higher"),
        ("contract.kernel_pages_per_s", "pages/s", "higher"),
        ("contract.glue_self_s", "s", "lower"),
        ("sources.extract.self_s", "s", "lower"),
        ("sources.extract.calls", "count", "lower"),
        ("sources.extract.matches_per_page", "ratio", "higher"),
        ("functions.cells.grid_encode_s", "s", "lower"),
        ("functions.cells.points_encoded", "count", "lower"),
        ("functions.geometry.pip_s", "s", "lower"),
        ("functions.geometry.pip_calls", "count", "lower"),
        ("functions.geometry.pip_points", "count", "lower"),
        ("functions.geometry.pip_kept_frac", "ratio", "higher"),
    ]
    for r in SPATIAL_OPS:
        m += [
            (f"operators.{r}.p50_s", "s", "lower"),
            (f"operators.{r}.build_s", "s", "lower"),
            (f"operators.{r}.exec_s", "s", "lower"),
            (f"operators.{r}.rows_out", "count", "higher"),
        ]
    m += [
        ("operators.spatial_join.cover_hit_s", "s", "lower"),
        ("operators.spatial_join.cover_miss_s", "s", "lower"),
        ("operators.spatial_join.hot_cells_s", "s", "lower"),
    ]
    for op in ST_OPS:
        m += [(f"st.{op}.us_per_pair", "us", "lower"), (f"st.{op}.null_frac", "ratio", "lower")]
    m += [(f"st.class.{c}.us_per_pair", "us", "lower") for c in OVERLAY_CLASSES]
    m += [
        ("manifest.partition_s", "s", "lower"),
        ("manifest.cell_stats_s", "s", "lower"),
        ("manifest.commit_s", "s", "lower"),
        ("manifest.jobs_per_partition", "count", "lower"),
        ("manifest.bytes_written_per_input_byte", "ratio", "lower"),
        ("manifest.resume_s", "s", "lower"),
        ("trace.overhead.items_per_s", "items/s", "higher"),
        ("trace.overhead.p50_s", "s", "lower"),
    ]
    return m


PER_LAYER = _per_layer()
UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}
