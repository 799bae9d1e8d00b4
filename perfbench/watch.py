"""The ``watch_steady`` workload, driven through
``streaming.pipeline.watch`` with the stand-in as the Redis client.

The open-loop generator appends 100 events/s across the four source
streams; a 1 s processing-time trigger with the source admission cap
(``buffers.source.size``) consumes them into file sinks under
``acknowledge: simple``. The cold first batches are warm-up.

With a trigger shorter than a batch, each batch takes what arrived while
the one before it ran, so batch size follows the pipeline's speed and
with it the host's load. At 400 events/s the batches held 1,500-3,400
events from run to run, and CPU per batch ranged 8.0-10.1 s. At 100
events/s they hold a few hundred events, so the per-event part is small
next to the fixed per-batch cost this workload measures.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

from . import events, host, latency, oracle

STEADY_RATE = 100  # events/s
TICK_S = 0.05
TRIGGER_S = 1
SOURCE_CAP = 2000
WARM_BATCHES = 1  # the first batch under the open loop; the next is loaded
COLD_PRELOAD = 50  # entries per stream for the cold first batch


@dataclass
class RunResult:
    metrics: dict[str, float]
    attempted: int
    failed: int
    layers: dict[str, float] = field(default_factory=dict)
    info: dict[str, Any] = field(default_factory=dict)


def _routing() -> dict[str, list[tuple[str, str]]]:
    return {
        events.SOURCE_PREFIX + table: [(col, events.TARGET_PREFIX + t) for t in targets]
        for table, (col, targets) in events.ROUTING.items()
    }


def _config(work: Path):
    from cdc_dedupe_spark.config import load_config

    path = work / "config.yaml"
    path.write_text(events.config_yaml(SOURCE_CAP))
    return load_config(path)


def _progress(query) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]


def _wait(query, cond: Callable[[], bool], timeout: float, what: str, poll: float = 0.05) -> None:
    deadline = time.time() + timeout
    while not cond():
        if not query.isActive:
            raise RuntimeError(f"watch query stopped while waiting for {what}: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"timed out after {timeout:.0f} s waiting for {what}")
        time.sleep(poll)


def _created_s(fields: dict[str, str]) -> float | None:
    try:
        return json.loads(fields["key"])["after"]["created_us"] / 1e6
    except (KeyError, TypeError, ValueError):
        return None


def _entries_by_batch(dumps: dict[str, dict], index: latency.BatchIndex) -> dict[int, list]:
    out: dict[int, list] = defaultdict(list)
    for stream, dump in dumps.items():
        for rid, fields in dump["entries"]:
            b = index.batch_of(stream, rid)
            if b is not None:
                out[b.batch_id].append((stream, rid, fields))
    return out


def _check_batches(
    by_batch: dict[int, list],
    actual_of: Callable[[int], oracle.Actual],
    source_acked: set[tuple[str, str]],
    target_size: int,
    counts: dict[str, int],
) -> set:
    routing = _routing()
    bad: set = set()
    for bid, entries in by_batch.items():
        exp = oracle.expected_batch(entries, routing, target_size)
        act = actual_of(bid)
        bad |= {(bid, k) for k in oracle.failed_entries(entries, routing, exp, act, source_acked)}
        counts["routed"] += exp.routed
        counts["packed_records"] += sum(act.packed.values())
        counts["packed_ids"] += sum(
            n * len(json.loads(ids)) for (_t, ids), n in act.packed.items()
        )
    return bad


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _duration_p50(batches: list[latency.Batch], key: str) -> float:
    return _median([b.durations_ms.get(key, 0.0) for b in batches])


def _stats_delta(a: dict, b: dict) -> dict[str, float]:
    calls = sum(b["calls"].values()) - sum(a["calls"].values())
    acks = sum(b["calls"].get(c, 0) - a["calls"].get(c, 0) for c in ("xack", "xdel"))
    client_s = sum(b["client_s"].values()) - sum(a["client_s"].values())
    return {"calls": calls, "ack_calls": acks, "client_s": client_s}


def _source_layers(batches: list[latency.Batch], stats: dict[str, float]) -> dict[str, float]:
    n = max(1, len(batches))
    return {
        "sources.latest_offset_ms": _duration_p50(batches, "latestOffset"),
        "sources.redis_calls_per_batch": stats["calls"] / n,
        "sources.redis_call_s": stats["client_s"] / n,
        "streaming.ack_round_trips_per_batch": stats["ack_calls"] / n,
        "streaming.add_batch_ms": _duration_p50(batches, "addBatch"),
        "streaming.wal_commit_ms": _duration_p50(batches, "walCommit"),
        "streaming.commit_offsets_ms": _duration_p50(batches, "commitOffsets"),
    }


def _plan_layers(counts: dict[str, int]) -> dict[str, float]:
    return {
        "plans.dedupe_survivor_ratio": counts["packed_ids"] / max(1, counts["routed"]),
        "plans.ids_per_packed_record": counts["packed_ids"] / max(1, counts["packed_records"]),
    }


def run_steady(spark, work: Path, standin, seed: int, seconds: float, setup_done: Callable[[], None]) -> RunResult:
    from cdc_dedupe_spark.streaming.pipeline import watch

    cfg = _config(work)
    spec = {"seed": seed, "key_space": 100_000}
    # The cold first batch consumes a small preload; the open loop starts
    # once it has committed, so the warm batches see no cold-start backlog.
    standin.admin("preload", {**spec, "seed": seed + 1_000_003}, COLD_PRELOAD)
    handles = watch(
        spark, cfg, None, str(work / "pipe"), available_now=False,
        trigger_seconds=TRIGGER_S, redis_options=standin.options,
    )
    q = handles.query

    def last_batch() -> int:
        # One progress report: cheap enough to poll without adding much
        # driver CPU to the measured interval.
        p = q.lastProgress
        if p is None:
            return -1
        return int((p if isinstance(p, dict) else json.loads(p.json))["batchId"])

    def cpu_s() -> float:
        # Driver Python (it runs the foreachBatch body), the JVM and its
        # Python workers; the stand-in plays Redis and is left out.
        return host.tree_cpu_s(os.getpid(), exclude=(standin.proc.pid,))

    try:
        _wait(q, lambda: len(latency.data_batches(_progress(q))) >= 1, 180, "the cold first batch")
        standin.admin("gen_start", spec, STEADY_RATE, TICK_S)
        _wait(q, lambda: len(latency.data_batches(_progress(q))) >= 1 + WARM_BATCHES, 120, "warm-up batches")
        setup_done()
        # A warm-up batch has just committed and the next one starts now;
        # CPU is read again when the batch running at the window's end
        # commits, so it covers whole batches, all of them loaded.
        cpu0, b0 = cpu_s(), last_batch()
        window_start = time.time()
        stats0 = standin.admin("stats")
        time.sleep(seconds)
        window_end = time.time()
        gen = standin.admin("gen_stop")
        b_end = last_batch()
        _wait(q, lambda: last_batch() > b_end, 120, "the batch running at the window's end")
        cpu1, b1 = cpu_s(), last_batch()
        last = {s: standin.admin("last_ids")[s] for s in events.source_streams()}

        def caught_up() -> bool:
            idx = latency.BatchIndex(latency.data_batches(_progress(q)))
            return all(idx.batch_of(s, rid) is not None for s, rid in last.items())

        _wait(q, caught_up, 120, "the pipeline to consume the window's events")
        stats1 = standin.admin("stats")
    finally:
        q.stop()
    batches = latency.data_batches(_progress(q))
    index = latency.BatchIndex(batches)
    dumps = standin.admin("dump", events.source_streams())

    window = []
    for stream, dump in dumps.items():
        for rid, fields in dump["entries"]:
            c = _created_s(fields)
            if c is not None and window_start <= c < window_end:
                window.append((stream, rid, c))
    lats, missing = latency.event_latencies(index, window)
    used = {b.batch_id for b in (index.batch_of(s, r) for s, r, _ in window) if b is not None}
    wbatches = [b for b in batches if b.batch_id in used]
    # The batches run between the two CPU readings: each started inside the
    # window, under the full open-loop load.
    loaded = [b for b in batches if b0 < b.batch_id <= b1]

    by_batch = _entries_by_batch(dumps, index)
    acked = {(s, rid) for s, d in dumps.items() for rid in d["acked"]}
    counts: dict[str, int] = defaultdict(int)
    bad = _check_batches(
        by_batch, lambda bid: oracle.read_file_sinks(work / "pipe", bid), acked,
        cfg.buffers.target.size, counts,
    )
    consumed = sum(len(v) for v in by_batch.values())

    def lag(b: latency.Batch) -> int:
        return sum(
            1 for s, r, c in window
            if c <= b.commit_end_s and index.batch_of(s, r).batch_id > b.batch_id
        )

    layers = _source_layers(wbatches, _stats_delta(stats0, stats1))
    layers["sources.lag_events_p50"] = _median([float(lag(b)) for b in wbatches])
    layers.update(_plan_layers(counts))
    return RunResult(
        metrics={
            "latency_p50_s": latency.percentile(lats, 50),
            "latency_p99_s": latency.percentile(lats, 99),
            "batch_commit_p50_s": _median([b.trigger_s for b in loaded]),
            # Capacity, not the offered rate: rows the loaded batches took
            # per second of their own trigger time.
            "throughput_per_s": sum(b.num_input_rows for b in loaded) / sum(b.trigger_s for b in loaded),
            "cpu_s_per_op": (cpu1 - cpu0) / (b1 - b0),
        },
        attempted=consumed + missing,
        failed=len(bad) + missing,
        layers=layers,
        info={
            "window_events": len(window),
            "batches": [(b.batch_id, b.trigger_s, b.num_input_rows) for b in batches],
            "units": [f"{q.id}:{b}" for b in sorted(used)],
            "generator": gen,
            "cpu_batches": b1 - b0,
        },
    )
