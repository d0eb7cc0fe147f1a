"""Metric names and units the benchmark reports (BENCHMARK.json lists
the same names; perfbench/tests/test_spec.py keeps the two in step)."""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "rss_after_gc_mb": "MB",
}

SPANS = (
    "sources.read",
    "functions.spatial.with_footprint",
    "operators.joins.pip_join",
    "operators.joins.tile_assign",
    "pipelines.decode_and_hash",
    "pipelines.north_star_pipeline",
    "plans.lineage.run_bucketed",
    "plans.lineage.resume",
    "operators.joins.knn_join",
    "plans.graph.connected_components",
    "plans.graph.pagerank",
    "plans.graph.bfs_hops",
    "operators.vectorize.stitch_regions",
    "operators.audio.audio_stats",
    "operators.profiling.distinct_profile",
)
SPAN_SUFFIXES = {
    "call_s": "s",
    "jobs": "count",
    "driver_gap_s": "s",
    "executor_run_s": "s",
    "persisted_left": "count",
}
SHUFFLE_SPANS = (
    "operators.joins.pip_join",
    "plans.lineage.run_bucketed",
    "plans.graph.connected_components",
)
SHUFFLE_SUFFIXES = {"shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio"}
PREFIX_SPANS = (
    "sources.read",
    "functions.spatial.with_footprint",
    "operators.joins.pip_join",
    "operators.joins.tile_assign",
    "pipelines.decode_and_hash",
)
RATIOS = {
    "operators.joins.pip_join.candidates_per_match": "ratio",
    "plans.lineage.resume.recomputed_frac": "ratio",
    "plans.lineage.run_bucketed.output_bytes_per_row": "B/row",
}
MICRO = {
    "kernels.codec.decode_group_mb_per_s": "MB/s",
    "kernels.codec.encode_group_mb_per_s": "MB/s",
    "kernels.codec.ahash_batch_imgs_per_s": "1/s",
    "functions.spatial.hex_cell_ns_per_row": "ns",
    "functions.spatial.pip_refine_rect_col_ns_per_pair": "ns",
    "functions.geometry.haversine_m_ns_per_pair": "ns",
}
TOTALS = {
    "stages": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "persisted_left": "count",
    "trace_overhead_s": "s",
}


def per_layer() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out: dict[str, str] = {}
    for span in SPANS:
        for suffix, unit in SPAN_SUFFIXES.items():
            out[f"{span}.{suffix}"] = unit
    for span in SHUFFLE_SPANS:
        for suffix, unit in SHUFFLE_SUFFIXES.items():
            out[f"{span}.{suffix}"] = unit
    for span in PREFIX_SPANS:
        out[f"{span}.prefix_s"] = "s"
    out.update(RATIOS)
    out.update(MICRO)
    out.update(TOTALS)
    return out
