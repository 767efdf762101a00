"""Metric names and units, in the order BENCHMARK.json lists them.
perfbench/METRICS.md says what each one means on each workload."""

from headline import QUERIES
from mix import ROUTES

#: per-layer metric -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "api.http_server.overhead_ms": "ms",
    "tables.load_tables_ms": "ms",
    "plans.predicates.compile_ms": "ms",
    "api.envelope.ms": "ms",
    "spark.action_ms_per_request": "ms",
    "spark.jobs_per_request": "count",
    "spark.stages_per_request": "count",
    "spark.tasks_per_request": "count",
    "api.serving_cache.hit_ratio": "ratio",
    "api.serving_cache.lookups": "count",
}
ROUTE_KINDS = [kind for kind, _, _, _ in ROUTES]
PER_LAYER.update({f"api.http_routes.{k}.p50_ms": "ms" for k in ROUTE_KINDS})
PHASES = [
    "addBatch",
    "getBatch",
    "latestOffset",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
    "triggerExecution",
]
PER_LAYER.update({f"streaming.progress.{p}_ms": "ms" for p in PHASES})
PER_LAYER.update(
    {
        "streaming.ingest.sink_ms": "ms",
        "spark.jobs_per_batch": "count",
        "spark.tasks_per_batch": "count",
        "streaming.ingest.log_write_ms": "ms",
        "streaming.state_store.apply_batch_ms": "ms",
        "streaming.ingest.rollup_write_ms": "ms",
        "streaming.ingest.legs_over_sink": "ratio",
        "streaming.progress.processed_rows_per_s": "1/s",
        "streaming.ingest.files_per_batch": "count",
        "streaming.state_store.rows": "count",
        "session.start_s": "s",
        "api.server.start_s": "s",
        "sources.lake.build_s": "s",
        "streaming.ingest.startup_s": "s",
        "warm_s": "s",
        "host.sentinel_s": "s",
        "host.external_cores": "cores",
        "trace.overhead_pct": "%",
        "memory.pss_peak_mb": "MB",
        "jvm.heap_live_peak_mb": "MB",
        "registry.build_ms": "ms",
        "spark.collect_ms": "ms",
    }
)
PER_LAYER.update({f"query.{q}_s": "s" for q in QUERIES})
PER_LAYER.update({f"query.{q}.jobs": "count" for q in QUERIES})

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "requests_per_s": "1/s",
    "request_p50_ms": "ms",
    "request_p90_ms": "ms",
    "ingest_events_per_s": "1/s",
    "batch_p50_s": "s",
    "stored_bytes_per_event": "B",
}
