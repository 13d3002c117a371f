"""Names and units of the benchmark's metrics."""

from __future__ import annotations


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


LAYER_METRICS = {
    # name: unit — every traced run reports all of them; a layer the
    # workload does not call reports 0.
    "session.start_s": "s",
    "sources.read_excel_s": "s", "sources.forms_rows": "count",
    "sources.read_binary_dir_s": "s", "sources.bytes_read": "B",
    "sinks.txlog_read_s": "s", "sinks.txlog_versions": "count",
    "sinks.write_partitioned_s": "s", "sinks.files_written": "count",
    "sinks.bytes_written": "B", "sinks.txlog_commit_s": "s",
    "etl.unpivot_s": "s", "etl.antijoin_s": "s", "etl.attach_folder_s": "s",
    "etl.resolve_s": "s",
    "etl.unpivoted": "count", "etl.catalog_skipped": "count", "etl.map_miss": "count",
    "etl.resolved_exact": "count", "etl.resolved_fuzzy": "count", "etl.unresolved": "count",
    "etl.skip_ratio": "ratio", "etl.resolve_useful_ratio": "ratio",
    "multimodal.compress_s": "s", "multimodal.images": "count",
    "multimodal.unreadable": "count",
    "multimodal.python_s": "s", "multimodal.python_start_s": "s",
    "multimodal.arrow_bytes": "B",
    "multimodal.kernel_core_s": "s", "multimodal.kernel_ms_per_mpix": "ms/Mpix",
    "multimodal.parallel_efficiency": "ratio", "multimodal.task_skew": "ratio",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.action_s": "s", "queries.jobs": "count", "queries.stages": "count",
    "queries.tasks": "count",
    "queries.shuffle_write_bytes": "B", "queries.shuffle_read_bytes": "B",
    "queries.spill_bytes": "B", "queries.python_s": "s",
    "queries.shared_build_s": "s",
    "leak.persisted_rdds": "count", "leak.tmp_entries": "count",
    "trace.overhead_s": "s", "trace.span_coverage": "ratio",
}
MS = 1e-3  # Spark records Python worker times in milliseconds


def zero_layers() -> dict:
    return {k: 0.0 for k in LAYER_METRICS}


def with_units(values: dict) -> dict:
    return {k: metric(values[k], LAYER_METRICS[k]) for k in LAYER_METRICS}
