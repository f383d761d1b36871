"""Metric names, units, and the predictions a per-layer metric carries.

``BENCHMARK.json`` lists the same names and units; the prediction
table lives here because that file's schema has no place for it.  For
each per-layer metric: the end-to-end metric it should move, the
workloads where it matters, and the workload where it should stay flat.
"""

from __future__ import annotations

from typing import NamedTuple


class Layer(NamedTuple):
    unit: str
    moves: str = ""
    matters_on: str = ""
    flat_on: str = ""


END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "py_rss_peak_mb": "MB",
}

# (moves, matters on, flat on).  json_to_db and nested_merge_parquet
# are not in BENCHMARK.json (see run.py); they are named where a layer
# matters on them too, for runs by hand.
_FLUENT = ("wall_s", "chunked_stream; json_to_db", "near_dup_curation")
_SOURCES = ("wall_s", "chunked_stream (parquet); json_to_db (JDBC)", "near_dup_curation")
_STREAM = ("wall_s", "chunked_stream", "near_dup_curation")
_OPS = ("wall_s", "near_dup_curation", "chunked_stream")
_EXEC = ("wall_s, rows_per_s", "near_dup_curation; nested_merge_parquet", "chunked_stream")
_WIDTH = ("wall_s", "chunked_stream; json_to_db", "near_dup_curation")

PER_LAYER = {
    "session.start_s": Layer("s", "setup_s", "all", ""),
    # the first repetition in a fresh session (cold JIT and codegen): one
    # sample per process, too noisy on a shared 4-core box for a bound
    "session.first_run_s": Layer("s"),
    "fluent.build_s": Layer("s", *_FLUENT),
    "fluent.run_self_s": Layer("s", *_FLUENT),
    "fluent.run_idle_s": Layer("s", *_FLUENT),
    "fluent.jobs": Layer("count", *_FLUENT),
    "fluent.py4j_calls": Layer("count", *_FLUENT),
    "transforms.apply_calls_per_row": Layer("ratio", *_FLUENT),
    "sources.write_s": Layer("s", *_SOURCES),
    "sources.write_idle_s": Layer("s", *_SOURCES),
    "sources.write_jobs": Layer("count", *_SOURCES),
    "sources.output_rows": Layer("count", *_SOURCES),
    "sources.output_bytes": Layer("bytes", *_SOURCES),
    "streaming.chunk_s": Layer("s", *_STREAM),
    "streaming.chunk_jobs": Layer("count", *_STREAM),
    "streaming.final_write_s": Layer("s", *_STREAM),
    "operators.minhash_s": Layer("s", *_OPS),
    "operators.lsh_s": Layer("s", *_OPS),
    "operators.clusters_s": Layer("s", *_OPS),
    "operators.clusters_jobs": Layer("count", *_OPS),
    "operators.candidate_pairs": Layer("count", *_OPS),
    "spark.jobs": Layer("count", *_EXEC),
    "spark.stages": Layer("count", *_EXEC),
    "spark.tasks": Layer("count", *_EXEC),
    "spark.executor_run_s": Layer("s", *_EXEC),
    "spark.executor_cpu_s": Layer("s", *_EXEC),
    "spark.shuffle_read_bytes": Layer("bytes", *_EXEC),
    "spark.shuffle_write_bytes": Layer("bytes", *_EXEC),
    "spark.spill_bytes": Layer("bytes", *_EXEC),
    "spark.failed_tasks": Layer("count", *_EXEC),
    "spark.core_busy_ratio": Layer("ratio", *_WIDTH),
    "spark.single_task_stage_s": Layer("s", *_WIDTH),
    # diagnostics of the trace itself and of the machine
    "trace.wall_s": Layer("s"),
    "trace.overhead_s": Layer("s"),
    "trace.span_coverage": Layer("ratio"),
    "trace.unattributed_s": Layer("s"),
    "trace.py4j_calls": Layer("count"),
    "box.cpu_marker_ms": Layer("ms"),
}
