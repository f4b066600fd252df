"""Workload query lists and the per-layer metrics each one is read against.

Every name is a ``queries()`` entry of ``__spark_entry__``. A workload is one
closed-loop client running its list back to back; each list is sized so one
warm pass takes a few seconds on four cores, which keeps a whole benchmark
run (set-up, checked cold pass, timed warm passes) under a minute.
"""

from __future__ import annotations

WORKLOADS = {
    # Scan, window, join, aggregate, native partitioned write and catalog
    # registration, all in the JVM: no pandas UDF and no manifest sink.
    "etl_batch": [
        "flagship_pipeline",
        "runner_batch_roundtrip",
        "catalog_partition_registry",
        "asof_join_events",
        "moving_average",
        "tpch_q3_shipping_priority",
    ],
    # Commit-bound paths with a fixed cost per commit: the manifest table
    # format (append, point merge through a literal relation, read back) and
    # a stateful micro-batch stream (watermarked dedup in RocksDB state).
    "manifest_stream": [
        "manifest_merge_upsert_roundtrip",
        "stream_dedup_roundtrip",
    ],
    # Read-only LLM-data operators: MinHash/SimHash LSH, random-hyperplane
    # ANN, the near-duplicate graph, with shuffles and pandas-UDF batches.
    "dedup_similarity": [
        "minhash_lsh_near_dup",
        "embedding_ann_lsh",
        "label_propagation_nations",
        "text_quality",
    ],
}

# Layer name -> module whose public functions get a span in traced passes.
PKG = "fiap_machine_learning_tech_challenge_2_etl_spark"
LAYERS = {
    "session": f"{PKG}.session",
    "parquet": f"{PKG}.sources.parquet",
    "catalog": f"{PKG}.sources.catalog",
    "sinks": f"{PKG}.sources.sinks",
    "pysink": f"{PKG}.sources.pysink",
    "streaming": f"{PKG}.streaming.incremental",
    "util": f"{PKG}.util",
    "similarity": f"{PKG}.operators.similarity",
    "dedup": f"{PKG}.operators.dedup",
    "graph": f"{PKG}.operators.graph",
    "text": f"{PKG}.operators.text",
    "windows": f"{PKG}.operators.windows",
    "joins": f"{PKG}.operators.joins",
    "cleaning": f"{PKG}.operators.cleaning",
    "pipeline": f"{PKG}.plans.pipeline",
    "runner": f"{PKG}.plans.runner",
}

# Per-layer metric -> (unit, better, the end-to-end metric and workload it
# should move). Every traced run reports all of them; a layer a workload
# does not reach reads 0.
LAYER_METRICS = {
    "session.get_session_s": ("s", "lower", "setup_s on every workload"),
    "query.build_s": ("s", "lower", "pass_s on manifest_stream"),
    "query.materialize_s": ("s", "lower", "pass_s on etl_batch and dedup_similarity"),
    "spark.jobs": ("count", "lower", "pass_s on manifest_stream"),
    "spark.driver_gap_s": ("s", "lower", "pass_s on manifest_stream"),
    "spark.stages": ("count", "lower", "pass_s on dedup_similarity and etl_batch"),
    "spark.tasks": ("count", "lower", "pass_s on dedup_similarity and etl_batch"),
    "spark.executor_run_s": ("s", "lower", "pass_s on dedup_similarity and etl_batch"),
    "spark.executor_cpu_s": ("s", "lower", "pass_s on dedup_similarity and etl_batch"),
    "spark.core_busy_frac": ("frac", "higher", "pass_s on dedup_similarity and etl_batch"),
    "spark.shuffle_write_mb": ("MB", "lower", "query_geomean_s on dedup_similarity"),
    "spark.shuffle_read_mb": ("MB", "lower", "query_geomean_s on dedup_similarity"),
    "spark.spill_mb": ("MB", "lower", "query_geomean_s on dedup_similarity"),
    "spark.exchanges": ("count", "lower", "query_geomean_s on dedup_similarity"),
    "spark.python_in_mb": ("MB", "lower", "query_geomean_s on dedup_similarity"),
    "spark.python_out_mb": ("MB", "lower", "query_geomean_s on dedup_similarity"),
    "spark.input_mb": ("MB", "lower", "pass_s on etl_batch"),
    "spark.output_mb": ("MB", "lower", "pass_s on manifest_stream and etl_batch"),
    "spark.failed_tasks": ("count", "lower", "failed queries (the result's failed count)"),
    "pysink.calls": ("count", "lower", "pass_s on manifest_stream"),
    "pysink.self_s": ("s", "lower", "pass_s on manifest_stream"),
    "pysink.saves": ("count", "lower", "pass_s on manifest_stream"),
    "pysink.save_s": ("s", "lower", "pass_s on manifest_stream"),
    "pysink.commits": ("count", "lower", "pass_s on manifest_stream"),
    "pysink.files_written": ("count", "lower", "pass_s on manifest_stream"),
    "pysink.bytes_written": ("bytes", "lower", "pass_s on manifest_stream"),
    "pysink.space_amp": ("ratio", "lower", "pass_s on manifest_stream"),
    "pysink.files_scanned_frac": ("frac", "lower", "pass_s on manifest_stream"),
    "sinks.self_s": ("s", "lower", "pass_s on etl_batch"),
    "sinks.files_written": ("count", "lower", "pass_s on etl_batch"),
    "sinks.bytes_written": ("bytes", "lower", "pass_s on etl_batch"),
    "catalog.self_s": ("s", "lower", "pass_s on etl_batch"),
    "catalog.partitions_added": ("count", "lower", "pass_s on etl_batch"),
    "parquet.self_s": ("s", "lower", "pass_s on etl_batch"),
    "streaming.self_s": ("s", "lower", "pass_s on manifest_stream"),
    "streaming.queries_started": ("count", "lower", "pass_s on manifest_stream"),
    "streaming.start_s": ("s", "lower", "pass_s on manifest_stream"),
    "streaming.batches": ("count", "lower", "pass_s on manifest_stream"),
    "streaming.commit_s": ("s", "lower", "microbatch_p50_s on manifest_stream"),
    "streaming.state_rows": ("count", "lower", "microbatch_p50_s on manifest_stream"),
    "streaming.state_mb": ("MB", "lower", "microbatch_p50_s on manifest_stream"),
    "streaming.microbatch_p50_s": ("s", "lower", "pass_s on manifest_stream"),
    "streaming.microbatch_tail_s": ("s", "lower", "pass_s on manifest_stream"),
    "util.spread_calls": ("count", "lower", "query_geomean_s on dedup_similarity"),
    "util.local_relation_calls": ("count", "lower", "pass_s on manifest_stream"),
    "util.local_relation_rows": ("count", "lower", "pass_s on manifest_stream"),
    "util.self_s": ("s", "lower", "pass_s on manifest_stream and dedup_similarity"),
    "similarity.self_s": ("s", "lower", "pass_s on dedup_similarity"),
    "dedup.self_s": ("s", "lower", "pass_s on dedup_similarity"),
    "graph.self_s": ("s", "lower", "pass_s on dedup_similarity"),
    "text.self_s": ("s", "lower", "pass_s on dedup_similarity"),
    "windows.self_s": ("s", "lower", "pass_s on etl_batch"),
    "joins.self_s": ("s", "lower", "pass_s on etl_batch"),
    "cleaning.self_s": ("s", "lower", "pass_s on etl_batch"),
    "pipeline.self_s": ("s", "lower", "pass_s on etl_batch"),
    "runner.self_s": ("s", "lower", "pass_s on etl_batch"),
    "jvm.peak_rss_mb": ("MB", "lower", "none: JVM resident-memory high-water mark (VmHWM)"),
    "bench.trace_overhead_frac": ("frac", "lower", "none: traced pass_s over untraced pass_s - 1"),
    "bench.top_span_coverage": ("frac", "higher", "none: least share of a query's wall time its top-level spans cover"),
}
