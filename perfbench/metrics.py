"""Names and units of every metric the benchmark prints.

END_TO_END is what every workload reports in an untraced run; PER_LAYER
is what every workload reports in a traced run (0 where the workload does
not reach that layer). BENCHMARK.json lists the same names and units.
"""

from __future__ import annotations

END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("op_p50_ms", "ms"),
    ("items_per_s", "1/s"),
    ("quality", "ratio"),
]

# operator modules behind the catalog rows vector-batch sweeps (grade_rows.json)
CATALOG_MODULES = ("curation", "stats", "timeseries", "streaming", "relational")

# (name, unit, source); sources:
#   ("spark", key)      mean per traced op of a status-store total
#   ("span_ms", name)   mean duration of spans with that name, in ms
#   ("self_ms", name)   mean self time (span minus child spans), in ms
#   ("op_s", kind)      mean wall time of traced ops of that kind, in s
#   ("op_spark", kind, key)  mean status-store total of traced ops of that kind
#   ("workload",)       computed by the workload
PER_LAYER = [
    ("spark.jobs", "count", ("spark", "jobs")),
    ("spark.stages", "count", ("spark", "stages")),
    ("spark.tasks", "count", ("spark", "tasks")),
    ("spark.driver_gap_ms", "ms", ("spark", "driver_gap_ms")),
    ("spark.executor_run_ms", "ms", ("spark", "run_ms")),
    ("spark.failed_tasks", "count", ("spark", "failed_tasks")),
    ("scan.input_rows", "count", ("spark", "in_rows")),
    ("scan.input_bytes", "bytes", ("spark", "in_bytes")),
    ("shuffle.write_bytes", "bytes", ("spark", "sh_write")),
    ("shuffle.read_bytes", "bytes", ("spark", "sh_read")),
    ("spill.bytes", "bytes", ("spark", "spill")),
    ("bench.request_self_ms", "ms", ("self_ms", "request")),
    ("rag.embed_query_stub.ms", "ms", ("span_ms", "rag.embed_query_stub")),
    ("rag.search_with_summary.build_ms", "ms", ("span_ms", "rag.search_with_summary.build")),
    ("rag.search_with_summary.build_self_ms", "ms",
     ("self_ms", "rag.search_with_summary.build")),
    ("rag.collect_ms", "ms", ("span_ms", "rag.collect")),
    ("rag.repeat_share", "ratio", ("workload",)),
    ("knn.knn_cosine_normalized_parquet.build_ms", "ms",
     ("span_ms", "knn.knn_cosine_normalized_parquet.build")),
    ("knn.collect_ms", "ms", ("span_ms", "knn.collect")),
    ("knn.write_normalized_store.s", "s", ("op_s", "knn.write_normalized_store")),
    ("knn.batch_knn.s", "s", ("op_s", "knn.batch_knn")),
    ("knn.pairs_scored_per_s", "1/s", ("workload",)),
    ("ann.build_ivf_index.s", "s", ("op_s", "ann.build_ivf_index")),
    ("ann.write_ivf_partitioned.s", "s", ("op_s", "ann.write_ivf_partitioned")),
    ("ann.kmeans_jobs", "count", ("op_spark", "ann.build_ivf_index", "jobs")),
    ("ann.ivf_search_parquet.build_ms", "ms", ("span_ms", "ann.ivf_search_parquet.build")),
    ("ann.ivf_search_parquet.collect_ms", "ms", ("span_ms", "ann.ivf_search_parquet.collect")),
    ("ann.rows_scored_per_result", "ratio", ("workload",)),
    ("ann.ivf_append.ms", "ms", ("span_ms", "ann.ivf_append")),
    ("ann.files_per_probe", "count", ("workload",)),
    ("ann.files_per_probe.first_batch", "count", ("workload",)),
    ("ann.files_per_probe.last_batch", "count", ("workload",)),
    ("ann.store_files", "count", ("workload",)),
    ("rag.upsert_store.write_ms", "ms", ("span_ms", "rag.upsert_store.write")),
    ("stores.publish_store.ms", "ms", ("span_ms", "stores.publish_store")),
    ("stores.current_store_path.ms", "ms", ("span_ms", "stores.current_store_path")),
    ("stores.read_current_store.ms", "ms", ("span_ms", "stores.read_current_store")),
    ("stores.versions_retained", "count", ("workload",)),
    ("dedup.bucketed_cosine_near_dup_pairs.s", "s",
     ("op_s", "dedup.bucketed_cosine_near_dup_pairs")),
    ("dedup.minhash_dedup_pairs.s", "s", ("op_s", "dedup.minhash_dedup_pairs")),
    ("dedup.verified_per_candidate", "ratio", ("workload",)),
    ("retrieval.build_bm25_index.s", "s", ("op_s", "retrieval.build_bm25_index")),
    *[(f"catalog.{m}.s", "s", ("workload",)) for m in CATALOG_MODULES],
    ("trace.overhead_pct", "%", ("workload",)),
]
