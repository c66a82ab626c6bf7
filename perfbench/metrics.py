"""Metric names and units, in the order the benchmark prints them.

``BENCHMARK.json`` declares the same lists; ``test_smoke.py`` keeps the two
in step. Every workload reports every metric: an end-to-end metric names
the workload's own primary and secondary operation (see ``LAYERS.md``), and
a per-layer metric of a layer the workload never calls reads 0.
"""

END_TO_END = [
    ("setup_s", "s"),
    ("p50_ms", "ms"),
    ("aux_p50_ms", "ms"),
    ("items_per_s", "items/s"),
    ("quality", "ratio"),
    ("store_mb", "MB"),
]

PER_LAYER = [
    ("session.start_s", "s"),
    ("session.floor_ms", "ms"),
    ("sources.gen_ms", "ms"),
    ("sources.write_ms", "ms"),
    ("sources.load_ms", "ms"),
    ("vector_table.load_ms", "ms"),
    ("compact_index.build_ms", "ms"),
    ("quantize.stored_bytes_per_vector", "bytes"),
    ("knn.jobs_per_call", "count"),
    ("knn.stages_per_call", "count"),
    ("knn.tasks_per_call", "count"),
    ("vector_table.search_driver_ms", "ms"),
    ("vector_table.search_cpu_ms", "ms"),
    ("knn.job_wall_ms", "ms"),
    ("knn.executor_ms", "ms"),
    ("knn.input_bytes", "bytes"),
    ("knn.shuffle_bytes", "bytes"),
    ("knn.merge_records", "count"),
    ("knn.merge_yield", "ratio"),
    ("compact_index.search_driver_ms", "ms"),
    ("compact_index.search_cpu_ms", "ms"),
    ("ivf.jobs_per_call", "count"),
    ("ivf.executor_ms", "ms"),
    ("ivf.shuffle_bytes", "bytes"),
    ("dedup.minhash_ms", "ms"),
    ("dedup.lsh_ms", "ms"),
    ("dedup.verify_ms", "ms"),
    ("dedup.cc_ms", "ms"),
    ("dedup.cc_jobs", "count"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.verified_pairs", "count"),
    ("dedup.verify_yield", "ratio"),
    ("text.score_ms", "ms"),
    ("pipeline.curate_driver_ms", "ms"),
    ("pipeline.curate_jobs", "count"),
    ("pipeline.curate_executor_ms", "ms"),
    ("pipeline.curate_cpu_ms", "ms"),
    ("pipeline.curate_shuffle_bytes", "bytes"),
    ("trace.overhead_ms", "ms"),
    ("trace.spans", "count"),
]

# per-layer numbers of the workloads BENCHMARK.json does not list
# (bulk_scan, ingest_mix; see LAYERS.md), printed as plain lines of their
# traced runs
EXTRA_LAYER = [
    ("quantize.encode_ms", "ms"),
    ("vector_table.add_driver_ms", "ms"),
    ("vector_table.add_jobs", "count"),
    ("vector_table.add_executor_ms", "ms"),
    ("knn.stages_growth_per_append", "count"),
]

# set-up call name -> per-layer metric (median over the set-up repetitions)
SETUP_CALLS = {
    "VectorTable.from_parquet+persist": "vector_table.load_ms",
    "IVFIndex.from_table": "compact_index.build_ms",
    "quantize.encode_col+write": "quantize.encode_ms",
    "createDataFrame+persist": "sources.load_ms",
}
