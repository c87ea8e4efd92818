"""The metrics the benchmark reports. ``BENCHMARK.json`` lists the same ones.

End-to-end metrics come from the timed pass, per-layer ones from the
traced pass. A metric is the same quantity in both workloads where that
makes sense; where it does not, its meaning per workload is given here.
"""

from __future__ import annotations

#: name, unit, better, bound (share of the parent's median a change may worsen it by)
END_TO_END = (
    # median of SETUP_REPS set-ups: fixture files plus the program's own
    # bootstrap (the three base lake loads, or the hotlog index build)
    ("setup_s", "s", "lower", 0.25),
    # wall seconds of one unit of work: analytics_mix, one full pass (3
    # ingest increments, 2 idle polls of each of the 3 sources, the registry
    # jobs), each call at the median of its kind over the passes;
    # stream_admission, the median micro-batch after the first, at either
    # rate (each reads one file). Its reciprocal is the throughput
    ("op_s", "s", "lower", 0.25),
    # seconds a user waits: analytics_mix, one no-new-rows ingest poll of
    # every source, each at its median; stream_admission, the median from a
    # doc's created_at to the commit of the batch that decided it, at the
    # below-capacity rate
    ("latency_s", "s", "lower", 0.25),
)

#: name, unit, better; the end-to-end metric each should move is in README.md
PER_LAYER = (
    # peak resident memory of the driver Python process, the JVM and its
    # workers; the JVM's heap grows at the collector's discretion, so this
    # moves by a third between identical runs and carries no bound
    ("peak_rss_mb", "MB", "lower"),
    ("setup.session_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("queries.build_s", "s", "lower"),
    ("queries.py4j_calls", "count", "lower"),
    ("query.q3_shipping_priority.s", "s", "lower"),
    ("query.multimodal_video_frame_stats.s", "s", "lower"),
    ("sources.load_table_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.cpu_ratio", "ratio", "higher"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.input_mb", "MB", "lower"),
    ("spark.output_mb", "MB", "lower"),
    ("spark.jobs_ungrouped", "count", "lower"),
    ("spark.jobs_unattributed", "count", "lower"),
    ("spark.jobs_per_batch", "count", "lower"),
    ("spark.stages_per_batch", "count", "lower"),
    ("ingestion.ingest_table_s", "s", "lower"),
    ("ingestion.prepare_s", "s", "lower"),
    ("ingestion.read_watermark_s", "s", "lower"),
    ("ingestion.write_watermark_s", "s", "lower"),
    ("ingestion.idle_input_mb", "MB", "lower"),
    ("sources.write_partitioned_s", "s", "lower"),
    ("streaming.call_s", "s", "lower"),
    ("streaming.trigger_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.planning_s", "s", "lower"),
    ("streaming.wal_commit_s", "s", "lower"),
    ("streaming.wait_s_p50.low", "s", "lower"),
    ("streaming.wait_s_p50.high", "s", "lower"),
    ("streaming.backlog_files_max.low", "count", "lower"),
    ("streaming.backlog_files_max.high", "count", "lower"),
    ("sources.overwrite_partitions_s", "s", "lower"),
    ("sources.overwrite_partitions_calls", "count", "lower"),
    ("operators.reject_ratio", "ratio", "lower"),
    ("gen.late_s_max", "s", "lower"),
    ("trace.timed_s", "s", "lower"),
    ("trace.traced_s", "s", "lower"),
    ("trace.harvest_s", "s", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
)
