"""Names and units of every metric the benchmark reports.

``BENCHMARK.json`` at the repository root lists the same names; the
benchmark's tests check that the two agree.
"""

from __future__ import annotations

# --trace 0: what a user of the program sees. Op costs are CPU seconds
# of the whole process tree (Python driver, JVM, Python workers): on a
# shared host the wall clock also measures the other tenants, so op
# wall times are traced-run metrics (bench.*) without a bound.
END_TO_END = {
    "setup_s": "s",
    "cold_op_cpu_s": "s",
    "op_cpu_s": "s",
    "rows_per_cpu_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
}

# spans, named after the module and function they wrap; each reports
# the SPAN_QUANTITIES below
SPANS = [
    "cli.main",
    "extract.run",
    "catalog.write_extract_csv",
    "load.run",
    "catalog.write_versioned_db",
    "catalog.merge_into_versioned_db",
    "catalog.read_versioned_db",
    "curate.curate_corpus",
    "dedup.cluster_duplicates",
    "dedup.semantic_dedup",
    "similarity.ivfpq_cosine_topk",
    "bench.sink",
]

SPAN_QUANTITIES = {
    "wall_s": "s",
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "driver_gap_s": "s",
    "executor_cpu_s": "s",
    "executor_run_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}

EXTRA_LAYER = {
    "session.get_spark.wall_s": "s",
    "config.parse.wall_s": "s",
    "catalog.files_written": "count",
    "catalog.bytes_written": "bytes",
    "extract.rows_out": "count",
    "load.rows_out": "count",
    "dedup.pairs_out": "count",
    "curate.kept_ratio": "ratio",
    "similarity.recall_at_k": "ratio",
    "trace.overhead_ratio": "ratio",
    "bench.op_wall_s": "s",
    "bench.cold_op_wall_s": "s",
    "bench.op_jit_cpu_s": "s",
    "bench.peak_rss_mb": "MB",
}

PER_LAYER = {
    **{f"{s}.{q}": u for s in SPANS for q, u in SPAN_QUANTITIES.items()},
    **EXTRA_LAYER,
}
