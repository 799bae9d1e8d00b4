"""Every metric the benchmark reports, with its unit. BENCHMARK.json
lists the same names (perfbench/tests check that they agree).

Each workload reports every metric. A per-layer metric of a layer the
workload does not exercise reads 0 (the query mix makes no Redis calls;
the watch workload builds no registry queries).
"""

from __future__ import annotations

from .querymix import MIX

# CPU seconds of the program's processes (user + system; see
# host.tree_cpu_s): time the hypervisor gave to other tenants is not in
# them, so they hold still on a contended host where wall times do not.
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
}

# Wall-clock figures of the same run. Every run reports them in its
# summary; the traced run lists them as ``traced.*`` per-layer metrics.
WALL = {
    "setup_wall_s": "s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "batch_commit_p50_s": "s",
    "throughput_per_s": "1/s",
}

PER_LAYER = {
    "sources.latest_offset_ms": "ms",
    "sources.redis_calls_per_batch": "count",
    "sources.redis_call_s": "s",
    "sources.lag_events_p50": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.stages_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    "streaming.task_s_per_batch": "s",
    "streaming.core_busy_ratio": "ratio",
    "streaming.publish_ms.packed": "ms",
    "streaming.publish_ms.dead": "ms",
    "streaming.publish_ms.acks": "ms",
    "streaming.manifest_ms": "ms",
    "streaming.ack_round_trips_per_batch": "count",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "plans.compile_ms": "ms",
    "plans.shuffle_write_bytes_per_batch": "bytes",
    "plans.dedupe_survivor_ratio": "ratio",
    "plans.ids_per_packed_record": "count",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.eager_jobs": "count",
    "queries.jobs": "count",
    "queries.tasks": "count",
    "queries.shuffle_bytes": "bytes",
    "queries.core_busy_ratio": "ratio",
    "operators.cc_s": "s",
    "operators.cc_calls": "count",
    "streaming.run.batches": "count",
    "streaming.run.add_batch_ms": "ms",
    "streaming.run.state_commit_ms": "ms",
    "streaming.run.state_rows": "count",
    "host.peak_rss_mb": "MB",
    **{f"traced.{k}": u for k, u in {**END_TO_END, **WALL}.items()},
    **{f"queries.{q}.{part}": "s" for q in MIX for part in ("build_s", "exec_s")},
}
