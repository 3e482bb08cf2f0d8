"""The metric names and units the benchmark prints.

BENCHMARK.json lists the same names; a test keeps the two in step.
"""

from __future__ import annotations

# headline catalog entries the ``headline`` workload runs, with the operator
# module each one exercises: one per module, each checked against a DuckDB
# oracle, or for embedding_kmeans a numpy recomputation
HEADLINE = {
    "q1_pricing_summary": "queries_reference",
    "q3_shipping_priority": "queries_analytics",
    "dedup_exact": "dedup",
    "corpus_training_manifest": "corpus",
    "ann_cosine_topk": "similarity",
    "events_hourly_rollup": "events_batch",
    "embedding_kmeans": "clustering",
}

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
}

PHASES = ("ingest", "models", "tests")
PHASE_COUNTERS = {
    "jobs": "count",
    "stages": "count",
    "reused_stages": "count",
    "tasks": "count",
    "shuffle_bytes": "bytes",
    "input_bytes": "bytes",
    "jvm_cpu_s": "s",
    "cpu_s": "s",
}
# streaming queries the ``live_refresh`` workload drains each tick
STREAMS = ("rollup", "totals")
STREAM_READINGS = {
    "batch_s": "s",
    "batches": "count",
    "add_batch_ms": "ms",
    "commit_ms": "ms",
    "source_ms": "ms",
    "planning_ms": "ms",
    "state_rows": "count",
    "state_bytes": "bytes",
    "checkpoint_bytes": "bytes",
}
MODULE_COUNTERS = {
    "plan_s": "s",
    "exec_s": "s",
    "cpu_s": "s",
    "jvm_cpu_s": "s",
    "stages": "count",
}


def _per_layer() -> dict[str, str]:
    m = {
        "session.start_s": "s",
        # busy CPU per operation and JVM + Python peak RSS moved by more than
        # a fifth between runs of the same code, too far to gate on as
        # end-to-end metrics
        "cpu_s": "s",
        "peak_rss_mb": "MB",
        "host.nproc": "count",
        "host.loadavg_pre": "load",
        "host.steal_pct": "%",
        "tracing_overhead_s": "s",
        "op_s.tail": "s",
        "op_s.samples": "count",
        "pipeline.run_s": "s",
        "pipeline.generate_s": "s",
        "pipeline.stage_s": "s",
        "pipeline.copy_s": "s",
        "pipeline.clean_s": "s",
        "raw.files": "count",
        "raw.rows": "count",
        "registry.staging_s": "s",
        "registry.mart_s": "s",
        "registry.mart_bytes_written": "bytes",
        "testing.run_s": "s",
        "testing.tests": "count",
        "testing.failed": "count",
        "testing.violations": "count",
    }
    for phase in PHASES:
        for k, unit in PHASE_COUNTERS.items():
            m[f"{phase}.{k}"] = unit
    for q in HEADLINE:
        m[f"{q}.s"] = "s"
        m[f"{q}.shuffle_bytes"] = "bytes"
    for mod in dict.fromkeys(HEADLINE.values()):
        for k, unit in MODULE_COUNTERS.items():
            m[f"{mod}.{k}"] = unit
    for q in STREAMS:
        for k, unit in STREAM_READINGS.items():
            m[f"{q}.{k}"] = unit
    return m


PER_LAYER = _per_layer()
