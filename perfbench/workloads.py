"""Workload dispatch: session and stand-in lifecycle, set-up timing, peak
RSS, and — in traced runs — the span wrappers and event-log layers."""

from __future__ import annotations

import os
import time
from pathlib import Path

from . import host, metrics, trace
from .watch import RunResult


def _install_watch_spans(tracer: trace.Tracer) -> None:
    from cdc_dedupe_spark.streaming import pipeline

    tracer.wrap(pipeline, "_process_batch", "streaming.process_batch")
    tracer.wrap(pipeline, "compile_watch_plan", "plans.compile")
    tracer.wrap(
        pipeline, "_publish_json",
        lambda df, bid, col, final_dir, *a, **k: "streaming.publish." + Path(final_dir).name,
    )
    tracer.wrap(pipeline.SinkManifest, "start", "streaming.manifest")
    tracer.wrap(pipeline.SinkManifest, "mark", "streaming.manifest")


def _batch_unit(job: dict) -> str | None:
    props = job.get("Properties") or {}
    bid = props.get("streaming.sql.batchId")
    return None if bid is None else f"{props.get('sql.streaming.queryId', '')}:{bid}"


def _watch_trace_layers(tracer: trace.Tracer, log_dir: Path, measured: set[str], cores: int) -> dict:
    units = trace.event_log_units(str(log_dir), _batch_unit)
    units = {k: v for k, v in units.items() if k in measured}
    n = max(1, len(units))
    jobs = sum(u.jobs for u in units.values())
    tasks = sum(u.tasks for u in units.values())
    task_s = sum(u.task_s for u in units.values())
    busy = [
        u.task_s / (max(1e-3, (u.last_end_ms - u.first_submit_ms) / 1000.0) * cores)
        for u in units.values() if u.last_end_ms > u.first_submit_ms
    ]

    def p50_ms(name: str) -> float:
        d = sorted(tracer.durations(name))
        return 1000.0 * d[len(d) // 2] if d else 0.0

    per_batch = max(1, tracer.count("streaming.process_batch"))
    manifest = sum(tracer.durations("streaming.manifest")) * 1000.0 / per_batch
    return {
        "streaming.jobs_per_batch": jobs / n,
        "streaming.stages_per_batch": sum(len(u.stages) for u in units.values()) / n,
        "streaming.tasks_per_batch": tasks / n,
        "streaming.task_s_per_batch": task_s / n,
        "streaming.core_busy_ratio": sorted(busy)[len(busy) // 2] if busy else 0.0,
        "streaming.publish_ms.packed": p50_ms("streaming.publish.targets"),
        "streaming.publish_ms.dead": p50_ms("streaming.publish.dead"),
        "streaming.publish_ms.acks": p50_ms("streaming.publish.acks"),
        "streaming.manifest_ms": manifest,
        "plans.compile_ms": p50_ms("plans.compile"),
        "plans.shuffle_write_bytes_per_batch": sum(u.shuffle_write_bytes for u in units.values()) / n,
    }


def _stop_jvm() -> None:
    """End the JVM pyspark launched and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)


def run(name: str, work: Path, seed: int, seconds: float, traced: bool, t_start: float) -> RunResult:
    from cdc_dedupe_spark.session import get_spark

    from .standin import StandinProcess

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = trace.Tracer() if traced else None
    standin = None

    def cpu_s() -> float:
        # The stand-in plays Redis: its work is not the program's.
        return host.tree_cpu_s(os.getpid(), exclude=() if standin is None else (standin.proc.pid,))

    # Taken after the host record, so the calibration kernel is not set-up.
    cpu_start = cpu_s()
    spark = get_spark(f"perfbench-{name}")
    session_s = time.time() - t_start
    setup_end: list[tuple[float, float]] = []

    def mark_setup() -> None:
        setup_end.append((time.time(), cpu_s()))

    try:
        if tracer is not None and name != "query_mix":
            _install_watch_spans(tracer)
        if name == "query_mix":
            from . import querymix

            res = querymix.run(spark, work, seed, seconds, mark_setup, tracer)
        else:
            from . import watch

            standin = StandinProcess(Path(__file__).resolve().parents[1])
            res = watch.run_steady(spark, work, standin, seed, seconds, mark_setup)
        res.info["peak_rss_mb"] = res.layers["host.peak_rss_mb"] = host.peak_rss_mb(spark)
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        if standin is not None:
            standin.close()
        spark.stop()
        _stop_jvm()
    res.metrics["setup_wall_s"] = setup_end[0][0] - t_start
    res.metrics["setup_s"] = setup_end[0][1] - cpu_start
    res.info["session_s"] = session_s
    res.metrics = {k: res.metrics[k] for k in {**metrics.END_TO_END, **metrics.WALL}}
    if tracer is not None:
        if name == "query_mix":
            from .querymix import finish_trace

            finish_trace(res, work / "eventlog", cores)
        else:
            measured = set(res.info["units"])
            res.layers.update(_watch_trace_layers(tracer, work / "eventlog", measured, cores))
        for k, v in res.metrics.items():
            res.layers[f"traced.{k}"] = v
        res.layers = {k: float(res.layers.get(k, 0.0)) for k in metrics.PER_LAYER}
        tracer.dump(str(work.parent / f"spans-{name}-{seed}.json"))
    return res
