"""Names and units of the benchmark's workloads and metrics.

BENCHMARK.json at the repository root lists the same names; run.py
prints exactly these in its last line (end-to-end with --trace 0,
per-layer with --trace 1). NOTES.md defines each one.
"""

WORKLOADS = ("scan", "mutate", "pipeline")

# A seed that no tuning run used, for held-out checks of a claimed gain.
HELD_OUT_SEED = 9001

END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "ops/s"),
    ("read_p50_ms", "ms"),
    ("read_p90_ms", "ms"),
    ("write_p50_ms", "ms"),
    ("write_p90_ms", "ms"),
    ("pass_s", "s"),
    ("bytes_per_user_byte", "ratio"),
]

# The pipeline's query set (PipelineWorkload.Queries): seven of the
# `d*`, `t*` and `m*` queries of SparkEntry.queries.
PIPELINE_QUERIES = [
    "d2_minhash_lsh", "d10_simhash_neardup", "d3_simhash", "d18_pair_agreement",
    "t4_fingerprint", "t5_sessionize", "m6_image_phash",
]

PER_LAYER = [
    # scbf: direct single-thread codec calls on the workload's SCBF files
    ("scbf.decode_mb_per_s", "MB/s"),
    ("scbf.encode_mb_per_s", "MB/s"),
    ("scbf.header_meta_ms", "ms"),
    ("scbf.compressed_ratio", "ratio"),
    # sources, plan side
    ("sources.plan.ms", "ms"),
    ("sources.plan.files_live", "count"),
    ("sources.plan.files_planned", "count"),
    ("sources.plan.files_planned_frac", "ratio"),
    ("sources.plan.agg_pushed_frac", "ratio"),
    # sources, reader side
    ("sources.scan.bytes_read", "bytes"),
    ("sources.scan.records_read", "count"),
    ("sources.scan.rows_out_per_record_read", "ratio"),
    ("sources.scan.task_ms", "ms"),
    ("sources.scan.task_cpu_ms", "ms"),
    # sources, commit side
    ("sources.commit.append_ms", "ms"),
    ("sources.commit.delete_ms", "ms"),
    ("sources.commit.update_ms", "ms"),
    ("sources.commit.merge_ms", "ms"),
    ("sources.commit.optimize_ms", "ms"),
    ("sources.commit.driver_ms", "ms"),
    ("sources.commit.bytes_written_per_user_byte", "ratio"),
    ("sources.commit.files_rewritten", "count"),
    ("sources.commit.log_bytes", "bytes"),
    ("sources.commit.refused", "count"),
    # operators + functions
] + [(f"operators.query.{q}_ms", "ms") for q in PIPELINE_QUERIES] + [
    ("operators.dedup_s", "s"),
    ("operators.text_s", "s"),
    ("operators.multimodal_s", "s"),
    ("operators.staged_builds", "count"),
    # Spark runtime
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.first_job_ms", "ms"),
    ("spark.executor_run_ms", "ms"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.core_util", "ratio"),
    ("peak_rss_mb", "MB"),
    # the trace itself: self time per layer, how much of each op the
    # layers account for, and what tracing costs
    ("trace.self_ms.client", "ms"),
    ("trace.self_ms.sources.plan", "ms"),
    ("trace.self_ms.sources.scan", "ms"),
    ("trace.self_ms.sources.commit", "ms"),
    ("trace.self_ms.operators", "ms"),
    ("trace.self_ms.spark", "ms"),
    ("trace.self_ms.scbf", "ms"),
    ("trace.attributed_frac", "ratio"),
    ("trace.ops_within_10pct", "ratio"),
    ("trace.overhead_frac", "ratio"),
]
