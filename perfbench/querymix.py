"""The ``query_mix`` workload: a fixed mix of 19 registry queries, each
timed as construction plus one hash-fold action over every output
column, and checked against a fingerprint stored with the benchmark.

The mix covers construction-heavy queries (connected-components loops,
eager checkpoints), execution-heavy actions, a write-then-readback and
stateful streaming. The inputs do not depend on the workload seed: the
corpus is the repository's own ``scripts/gen_scale_corpus.py`` at 500
documents and 500 embeddings (10,000 events), whose data seed is fixed so
the stored fingerprints hold; and the order is fixed because the first
pass runs partly cold, so a seeded order moved each query's cold cost
around and spread the per-query median by 73% across five seeds.

``python3 -m perfbench.querymix`` runs one pass and rewrites
``perfbench/fingerprints.json``; do that only when a query's output is
meant to change.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

from . import host, latency, trace
from .watch import RunResult

CDC_QUERIES = (
    "cdc_parse_extract", "cdc_dedupe_first", "cdc_dedupe_window", "cdc_fanout_route",
    "cdc_ack_expect", "cdc_batch_pack", "cdc_batch_pack_scalable", "cdc_dedupe_stream",
    "cdc_upsert_latest", "cdc_scd2_history", "cdc_tombstone_lifecycle", "cdc_snapshot_asof",
    "cdc_merge_apply", "cdc_ivm_agg",
)
# Left out so the benchmark's whole set of runs fits its time on a
# contended 4-core host: stream_sessionize_state_tws (8-11 s),
# stream_stream_join (~7 s), pipeline_dedup_full (~5 s) and
# dedup_minhash_incremental (~4 s), nearly all of it construction.
# dedup_cluster_histogram still covers the connected-components loop, and
# stream_watermark_dedupe and cdc_dedupe_stream stateful streaming.
MIX = CDC_QUERIES + (
    "dedup_cluster_histogram", "pipeline_corpus_write_readback",
    "dedup_cdc_chunks", "dedup_cdc_cross_doc", "stream_watermark_dedupe",
)
# The first batch query and the first streaming query pay the session's
# cold start. bench.py also warms up with graph_cc_sizes and
# dedup_minhash_exact; they are left out to keep set-up short (~15 s of a
# contended run), so the mix's own CC queries run partly cold.
WARMUP = ("cdc_dedupe_first", "cdc_dedupe_stream")
FINGERPRINTS = Path(__file__).resolve().parent / "fingerprints.json"
ROOT = Path(__file__).resolve().parents[1]
CORPUS_DOCS = CORPUS_VECS = 500


def write_corpus(out: Path) -> Path:
    """The mix's input tables, written by the repository's corpus script."""
    subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "gen_scale_corpus.py"), str(out), str(CORPUS_DOCS), str(CORPUS_VECS)],
        check=True, stdout=subprocess.DEVNULL,
    )
    return out


def fold(df) -> str:
    """One action that evaluates every output column and returns one row:
    the sum of a hash of each row (a row count for map-typed outputs,
    which ``hash`` cannot take)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    def has_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        kids = [f.dataType for f in getattr(dt, "fields", [])]
        elem = getattr(dt, "elementType", None)
        return any(has_map(k) for k in kids + ([elem] if elem is not None else []))

    if any(has_map(f.dataType) for f in df.schema.fields):
        return f"count:{df.count()}"
    return f"hash:{df.agg(F.sum(F.hash(*[F.col(c) for c in df.columns]))).first()[0]}"


@dataclass
class QueryRun:
    name: str
    t0: float
    t1: float  # construction done
    t2: float  # action done
    ok: bool

    @property
    def total_s(self) -> float:
        return self.t2 - self.t0


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressListener()


def run_query(spark, name: str, sf_dir: str, expected: str | None) -> tuple[QueryRun, str | None]:
    from cdc_dedupe_spark.queries import REGISTRY

    t0 = time.time()
    t1 = fp = None
    try:
        df = REGISTRY[name].spark(spark, sf_dir)
        t1 = time.time()
        fp = fold(df)
    except Exception as e:  # a failing query is counted, the mix goes on
        print(f"perfbench query {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
    t2 = time.time()
    t1 = t1 or t2
    return QueryRun(name, t0, t1, t2, fp is not None and fp == expected), fp


def _trace_layers(runs: list[QueryRun], log_dir: Path, listener_batches, cc: list[float], cores: int, passes: int) -> dict:
    windows = sorted(
        [(r.t0 * 1000, r.t1 * 1000, f"build:{r.name}") for r in runs]
        + [(r.t1 * 1000, r.t2 * 1000, f"exec:{r.name}") for r in runs]
    )

    def unit_of(job: dict) -> str | None:
        t = job.get("Submission Time", 0)
        for lo, hi, unit in windows:
            if lo <= t < hi:
                return unit
        return None

    units = trace.event_log_units(str(log_dir), unit_of)
    wall = sum(r.total_s for r in runs)
    task_s = sum(u.task_s for u in units.values())
    layers = {
        "queries.build_s": sum(r.t1 - r.t0 for r in runs) / passes,
        "queries.exec_s": sum(r.t2 - r.t1 for r in runs) / passes,
        "queries.eager_jobs": sum(u.jobs for k, u in units.items() if k.startswith("build:")) / passes,
        "queries.jobs": sum(u.jobs for u in units.values()) / passes,
        "queries.tasks": sum(u.tasks for u in units.values()) / passes,
        "queries.shuffle_bytes": sum(u.shuffle_write_bytes for u in units.values()) / passes,
        "queries.core_busy_ratio": task_s / (wall * cores) if wall else 0.0,
        "operators.cc_s": sum(cc) / passes,
        "operators.cc_calls": len(cc) / passes,
        "streaming.run.batches": len(listener_batches) / passes,
        "streaming.run.add_batch_ms": _median([b.durations_ms.get("addBatch", 0.0) for b in listener_batches]),
    }
    by_name: dict[str, list[QueryRun]] = defaultdict(list)
    for r in runs:
        by_name[r.name].append(r)
    for name in MIX:
        rs = by_name.get(name, [])
        layers[f"queries.{name}.build_s"] = _median([r.t1 - r.t0 for r in rs])
        layers[f"queries.{name}.exec_s"] = _median([r.t2 - r.t1 for r in rs])
    return layers


def _median(xs: list[float]) -> float:
    return latency.percentile(xs, 50) if xs else 0.0


def run(spark, work: Path, seed: int, seconds: float, setup_done: Callable[[], None], tracer) -> RunResult:
    from cdc_dedupe_spark.operators import graph

    sf_dir = str(write_corpus(work / "corpus"))
    expected = json.loads(FINGERPRINTS.read_text())
    listener = _progress_listener()
    spark.streams.addListener(listener)
    warmup = [run_query(spark, name, sf_dir, None)[0] for name in WARMUP]
    if tracer is not None:
        tracer.wrap(graph, "connected_components", "operators.cc")
    setup_done()

    window_start = time.time()
    # The JVM, its Python workers and this process (it builds the plans).
    cpu0 = host.tree_cpu_s(os.getpid())
    runs: list[QueryRun] = []
    passes = 0
    while passes == 0 or time.time() < window_start + seconds:
        for name in MIX:
            runs.append(run_query(spark, name, sf_dir, expected.get(name))[0])
        passes += 1
    cpu_s = host.tree_cpu_s(os.getpid()) - cpu0
    time.sleep(0.5)  # listener events are delivered asynchronously
    spark.streams.removeListener(listener)

    measured = [
        p for p in listener.progress
        if p.get("numInputRows", 0) > 0 and latency.parse_timestamp(p["timestamp"]) >= window_start
    ]
    batches = [latency.parse_progress(p) for p in measured]
    totals = [r.total_s for r in runs]
    res = RunResult(
        metrics={
            "latency_p50_s": latency.percentile(totals, 50),
            "latency_p99_s": latency.percentile(totals, 99),
            "batch_commit_p50_s": _median([b.trigger_s for b in batches]),
            "throughput_per_s": len(runs) / sum(totals),
            "cpu_s_per_op": cpu_s / len(runs),
        },
        attempted=len(runs),
        failed=sum(not r.ok for r in runs),
        info={
            "passes": passes,
            "query_mix_s": sum(totals) / passes,
            "exec_share": sum(r.t2 - r.t1 for r in runs) / sum(totals),
            "failed_queries": sorted({r.name for r in runs if not r.ok}),
            "query_s": {r.name: round(r.total_s, 3) for r in runs},
            "warmup_s": {r.name: round(r.total_s, 3) for r in warmup},
        },
    )
    if tracer is not None:
        res.info["pending_layers"] = (runs, batches, tracer.durations("operators.cc"), passes)
        res.layers["streaming.run.state_commit_ms"] = _median([_state(p, "commitTimeMs") for p in measured])
        res.layers["streaming.run.state_rows"] = _median([_state(p, "numRowsTotal") for p in measured])
    return res


def _state(progress: dict, key: str) -> float:
    return float(sum(op.get(key, 0) or 0 for op in progress.get("stateOperators", [])))


def finish_trace(res: RunResult, log_dir: Path, cores: int) -> None:
    """Event-log layers; call after the session stopped (log flushed)."""
    runs, batches, cc, passes = res.info.pop("pending_layers")
    res.layers.update(_trace_layers(runs, log_dir, batches, cc, cores, passes))


if __name__ == "__main__":
    from perfbench.run import ROOT, _prepare_env
    from perfbench.workloads import _stop_jvm

    out = ROOT / ".perfbench_work" / "fingerprints"
    _prepare_env(out, trace=False)
    from cdc_dedupe_spark.session import get_spark

    spark = get_spark("perfbench-fingerprints")
    try:
        sf = str(write_corpus(out / "corpus"))
        prints = {name: run_query(spark, name, sf, None)[1] for name in MIX}
    finally:
        spark.stop()
        _stop_jvm()
    FINGERPRINTS.write_text(json.dumps(prints, indent=1, sort_keys=True) + "\n")
    print(json.dumps(prints, indent=1, sort_keys=True))
