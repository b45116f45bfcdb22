"""Names, units and directions of every metric the benchmark prints.

Every workload prints the same names: the end-to-end list with
``--trace 0`` and the per-layer list with ``--trace 1``. A per-layer
metric of a layer the workload never calls reads 0.
"""

from __future__ import annotations

from workloads import QUERIES

# name -> (unit, better, regression bound as a share of the parent median)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "cpu_ms_per_op": ("ms", "lower", 0.25),
    "op_cpu_ms_p50": ("ms", "lower", 0.25),
    "op_success_ratio": ("ratio", "higher", 0.01),
    "peak_rss_mb": ("MB", "lower", 0.1),
}

_CATALOG_FNS = (
    "start_info",
    "end_info",
    "exported_table_info",
    "imported_table_info",
    "column_descriptors",
    "next_start_times",
    "restore_sessions",
    "table_names",
)

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "trace.overhead_ms_p50": ("ms", "lower"),
    "workload.ops_per_s": ("1/s", "higher"),
    "workload.full_export_cells_per_s": ("cells/s", "higher"),
    "workload.incr_export_s_p50": ("s", "lower"),
    "workload.restore_s_p50": ("s", "lower"),
    "workload.restore_s_p75": ("s", "lower"),
    "workload.restores": ("count", "higher"),
    "workload.backup_bytes_per_source_byte": ("ratio", "lower"),
    "workload.export_tables_per_s": ("tables/s", "higher"),
    "workload.import_tables_per_s": ("tables/s", "higher"),
    "workload.analytics_queries_per_min": ("queries/min", "higher"),
    "snapshots.export_table_s_p50": ("s", "lower"),
    "snapshots.export_spark_jobs_per_table": ("jobs", "lower"),
    "snapshots.pool_occupancy": ("ratio", "higher"),
    "snapshots.restore_plan_s_p50": ("s", "lower"),
    "snapshots.restore_exec_s_p50": ("s", "lower"),
    "snapshots.restore_files_read_p50": ("files", "lower"),
    "snapshots.restore_rows_returned_per_row_read": ("ratio", "higher"),
    "snapshots.import_table_s_p50": ("s", "lower"),
    **{f"catalog.{fn}_s_p50": ("s", "lower") for fn in _CATALOG_FNS},
    "catalog.spark_jobs_per_call": ("jobs", "lower"),
    **{
        f"catalog.{t}.{m}": ("count", "lower")
        for t in ("sessions", "tables", "column_descriptors")
        for m in ("data_files_end", "rows_end")
    },
    "catalog.contention_errors": ("count", "lower"),
    "catalog.reland_warnings": ("count", "lower"),
    "storage.path_fence_wait_s_total": ("s", "lower"),
    "storage.path_fence_held_s_total": ("s", "lower"),
    "storage.list_path_calls": ("count", "lower"),
    "storage.list_path_entries_per_call": ("count", "lower"),
    "storage.save_bytes_calls": ("count", "lower"),
    "storage.commit_version_calls": ("count", "lower"),
    **{f"queries.{q}_s_p50": ("s", "lower") for q in QUERIES},
    **{f"queries.{q}_spark_tasks": ("tasks", "lower") for q in QUERIES},
    **{f"{layer}.self_share": ("ratio", "lower") for layer in ("snapshots", "catalog", "storage", "queries", "bench")},
}


def render(values: dict[str, float], spec: dict) -> dict[str, dict]:
    """``{name: {"value", "unit"}}`` for every name in ``spec``; a name
    the run did not measure reads 0."""
    return {name: {"value": float(values.get(name, 0.0)), "unit": spec[name][0]} for name in spec}
