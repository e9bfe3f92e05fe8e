"""Metric catalogue of the benchmark: names and units.

``END_TO_END`` is what a user of tzspark sees; a run with ``--trace 0``
reports every one of them. ``PER_LAYER`` splits those numbers by module; a
run with ``--trace 1`` reports every one of them (0 where the workload does
not touch that layer). perfbench/README.md gives each metric's meaning and
the end-to-end metric and workload each per-layer metric should move.
BENCHMARK.json repeats the names and units; perfbench/tests keeps the two in
step.
"""

from __future__ import annotations

BROADCAST = "world_assign_broadcast"
DRIVER = "driver_search_update"
# runnable by hand; world_assign_broadcast's traced run measures their layers
JOIN = "world_assign_join"
DBSCAN = "geo_dbscan"
WORKLOADS = (BROADCAST, JOIN, DRIVER, DBSCAN)

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("op_ms_p50", "ms", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.10),
]

# (name, unit)
PER_LAYER = [
    ("imagecodec.extract_gps_batch.s", "s"),
    ("cells.compile_cover.s", "s"),
    ("cells.index_bytes", "bytes"),
    ("cells.resolve_points.s", "s"),
    ("cells.resolve_points.unresolved", "count"),
    ("cells.knn_fallback.s", "s"),
    ("cells.knn_fallback.rows", "count"),
    ("cells.replace_zone.s", "s"),
    ("api.TimezoneLookup.search_many.s", "s"),
    ("engine.assign.s", "s"),
    ("engine.overhead_s", "s"),
    ("covertable.CoverTables.from_index.s", "s"),
    ("covertable.assign_images_via_join.s", "s"),
    ("covertable.assign_images_via_join.shuffle_write_bytes", "bytes"),
    ("covertable.proximity_self_join.s", "s"),
    ("covertable.proximity_self_join.pairs", "count"),
    ("queries_text.min_label_cc.s", "s"),
    ("queries_text.min_label_cc.rounds", "count"),
    ("queries_text.min_label_cc.edges", "count"),
    ("spark.session_start.s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("jvm_peak_rss_mb", "MB"),
    ("host.fault_us_per_page.before", "us/page"),
    ("host.fault_us_per_page.after", "us/page"),
    ("host.steal_frac", "fraction"),
    ("host.quiet_wait_s", "s"),
    ("trace.overhead_frac", "fraction"),
]
