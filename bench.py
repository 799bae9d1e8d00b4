#!/usr/bin/env python
"""Benchmark harness: run every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line:

  {"metric": "declared_query_suite_wall", "value": <total sec>,
   "unit": "sec", "queries": {"q": sec, ...}, "sf": 0.1}

Per-query time = plan build + FULL plan execution (a one-row hash-fold of
every output column — count() would let Catalyst prune computed columns
and silently skip map-only kernels; driver transfer stays O(1) so the
measurement is engine time, not driver materialization). BASELINE.md
targets: <= 30 s/query, <= 15 min suite at sf0.1.

  python bench.py NAME...

times only the named queries, the same way (corpus, warm-ups, runs), and
prints the same line for them. It skips the streaming probes and the skew
sweep, and writes neither BENCH_LOCAL.json nor SKEW_LOCAL.json. For a
query's plan, use ``python -m cdc_dedupe_spark.cli explain NAME``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _maybe_rechunk(sf_dir: str, parts: int = 8) -> tuple[str, bool]:
    """Re-chunk the bench corpus into multi-row-group files (VERDICT r16
    ask #5): the driver writes each table as ONE row group, so a file is
    one scan task no matter what — the standing SKEW_LOCAL.json artifact
    flags on whole-corpus aggregates (TESTDATA.md r16 note). Rewriting
    each table with ~``parts`` row groups (same rows, same order, same
    schema — pyarrow read->write, values untouched) plus the matching
    ``maxPartitionBytes`` in the bench session restores the multi-task
    scan granularity a multi-file 100 TB table has natively, so probe
    flags become signal instead of layout noise.

    Cached under .localdata/bench_rechunk keyed by source sizes+mtimes;
    opt out with SPARK_GRAFT_BENCH_RECHUNK=0. Single files (not
    directories) so the streaming replay's pathGlobFilter and the
    parquet-footer ts tripwire keep working unchanged."""
    if os.environ.get("SPARK_GRAFT_BENCH_RECHUNK", "1") != "1":
        return sf_dir, False
    try:
        import hashlib
        import shutil

        import pyarrow.parquet as pq

        src = Path(sf_dir)
        files = sorted(src.glob("*.parquet"))
        if not files:
            return sf_dir, False
        key = ";".join(
            f"{f.name}:{f.stat().st_size}:{f.stat().st_mtime_ns}" for f in files
        ) + f";parts={parts}"
        digest = hashlib.md5(key.encode()).hexdigest()[:12]
        out = Path(_REPO) / ".localdata" / "bench_rechunk" / f"{src.name}-{digest}"
        if (out / "_MANIFEST").exists():
            return str(out), True
        tmp = out.parent / (out.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        for f in files:
            t = pq.read_table(f)
            rg = max(1, -(-t.num_rows // parts))  # ceil division
            pq.write_table(t, tmp / f.name, row_group_size=rg)
        (tmp / "_MANIFEST").write_text(key + "\n")
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
        # Drop stale siblings for the same source corpus — but only ones
        # untouched for >1 day: a concurrent bench process may still be
        # scanning a cache directory keyed by an older corpus mtime, and
        # deleting it mid-run would fail that run mid-query (ADVICE r17).
        now = time.time()
        for old in out.parent.glob(f"{src.name}-*"):
            if old != out and now - old.stat().st_mtime > 86_400:
                shutil.rmtree(old, ignore_errors=True)
        return str(out), True
    except Exception as e:  # corpus layout is an optimization, never a gate
        print(f"bench rechunk failed (using original corpus): {e}", file=sys.stderr)
        return sf_dir, False


def _has_map(dt) -> bool:
    """True when a schema (sub)type contains a MapType anywhere."""
    from pyspark.sql.types import MapType

    if dt is None:
        return False
    if isinstance(dt, MapType):
        return True
    if any(_has_map(f.dataType) for f in getattr(dt, "fields", [])):
        return True
    return _has_map(getattr(dt, "elementType", None))


def force_full_plan(df) -> str:
    """Evaluate the WHOLE plan, driver transfer O(1); return the eval
    mode used.

    ``count()`` lets Catalyst PRUNE every computed column a plain
    projection emits — a map-only query measured by count() costs
    only its scan, hiding the actual kernel (r13: this masked a
    serial minhash signature pipeline for four rounds). A murmur3
    hash of every output column folded into one SUM forces full
    evaluation while collecting a single row.

    The count() fallback is chosen EXPLICITLY from the schema — only
    map-typed outputs, which hash() cannot take (those queries are
    aggregates whose plans count() cannot prune meaningfully). Real
    execution errors propagate to the per-query failure handler
    instead of being silently re-run under count() with a doubled,
    mislabeled time."""
    from pyspark.sql import functions as F

    if any(_has_map(f.dataType) for f in df.schema.fields):
        df.count()
        return "count"
    df.agg(F.sum(F.hash(*[F.col(c) for c in df.columns]))).collect()
    return "hash"


_LATENCY_CONFIG = """\
source:
  format: compact
  prefix: "m2.m2."
  group: cdc
  consumer: cdc
  acknowledge: simple
buffers:
  source: {size: 2000, time: 1000}
  dedupe: {size: 100000, time: 5000}
  target: {size: 1000, time: 1000}
target:
  prefix: "target."
mapping:
  catalog_category_entity:
    entity_id:
      - catalog_product_flat
      - catalog_category_product
"""


@contextmanager
def _probe_pipeline(spark, prefix: str):
    """Scratch watch pipeline shared by the two latency probes: the
    latency config and a file-backed fake Redis source. Yields
    ``(add, start)``: ``add(n, base)`` appends ``n`` compact envelopes to
    the source stream, ``start(trigger_sec)`` starts the watch query on
    it. On exit the working dir (config, fake-redis stream, checkpoint/work
    dirs) is removed."""
    import shutil
    import tempfile

    from cdc_dedupe_spark.config import load_config
    from cdc_dedupe_spark.streaming.pipeline import watch
    from cdc_dedupe_spark.sources.fake_redis import FakeRedis

    tmp = Path(tempfile.mkdtemp(prefix=prefix))
    try:
        (tmp / "config.yaml").write_text(_LATENCY_CONFIG)
        cfg = load_config(tmp / "config.yaml")
        redis_dir = tmp / "redis"
        fake = FakeRedis(str(redis_dir))

        def add(n: int, base: int = 0) -> None:
            for i in range(n):
                row = {"entity_id": (base + i) % 997, "v": 1}
                payload = json.dumps({"before": row, "after": row})
                fake.xadd("m2.m2.catalog_category_entity", {"key": payload})

        def start(trigger_sec: int):
            return watch(
                spark,
                cfg,
                source_dir=None,
                work_dir=str(tmp / "work"),
                available_now=False,
                trigger_seconds=trigger_sec,
                redis_options={
                    "client_factory": "cdc_dedupe_spark.sources.fake_redis:make_client",
                    "fake_dir": str(redis_dir),
                },
            ).query

        yield add, start
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _latency_probe(spark, trigger_sec: int = 5, n_events: int = 20_000) -> dict:
    """BASELINE.md's reference-parity latency row: run the WATCH pipeline
    under a real processing-time trigger (trigger='5 seconds' mirroring
    the reference's config.yaml:17),
    and report p50/p99 micro-batch commit latency from the engine's own
    progress events. The source is the file-backed fake Redis client
    pre-loaded with ``n_events`` compact envelopes; the config's
    buffers.source.size (2000) is the per-batch admission cap, so the
    preload drains as ~10 paced micro-batches — the reference's poll-cap
    pacing, not one availableNow gulp. Latency =
    durationMs.triggerExecution (source poll -> dedupe -> pack -> sink +
    checkpoint commit, the full batch critical path)."""
    want_batches = -(-n_events // 2000)  # admission cap in _LATENCY_CONFIG
    with _probe_pipeline(spark, "bench-latency-") as (add, start):
        add(n_events)
        q = start(trigger_sec)
        deadline = time.time() + (want_batches + 4) * trigger_sec + 60
        while time.time() < deadline:
            lp = q.lastProgress
            if lp is not None and lp["batchId"] >= want_batches + 1:
                break
            time.sleep(1.0)
        progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
        run_id = str(q.runId)
        q.stop()
        q.awaitTermination()

    commits = sorted(p["durationMs"]["triggerExecution"] / 1000.0 for p in progresses)
    if not commits:
        raise RuntimeError("latency probe produced no non-empty micro-batches")

    def _pct(q_: float) -> float:
        return commits[min(len(commits) - 1, int(q_ * (len(commits) - 1) + 0.999))]

    return {
        "trigger_sec": trigger_sec,
        # streaming stages carry the query run id as their job group —
        # recorded so the skew-flag sweep can exclude the probe's stages
        # (a paced 5 s trigger is SUPPOSED to have busy single batches)
        "query_run_id": run_id,
        "n_events": n_events,
        "n_batches": len(commits),
        "p50_commit_sec": round(commits[len(commits) // 2], 3),
        "p99_commit_sec": round(_pct(0.99), 3),
        "max_commit_sec": round(commits[-1], 3),
        "baseline_p50_ceiling_sec": 10.0,
    }


def _backlog_drain_probe(
    spark, trigger_sec: int = 5, cap: int = 2000, backlog_mult: int = 10
) -> dict:
    """Recovery-case latency row: the steady-state probe above measures a
    paced drain; this one measures what happens after an OUTAGE. Phase 1
    runs the watch pipeline through one cap-sized batch and stops it (the
    paused trigger); phase 2 lands a ``backlog_mult``× admission-cap
    backlog in the source stream while nothing consumes; phase 3 restarts
    from the checkpoint and drains.

    The numbers that matter: batches_to_drain (the admission cap —
    buffers.source.size, mirroring the reference's poll cap — must slice
    the backlog into bounded batches), max_batch_rows (cap_respected:
    no batch ever admits more than the cap, the bounded-buffer contrast
    to the reference's unbounded in-flight queue, SURVEY §2A S7), and
    peak_commit_sec (per-batch latency stays near steady-state even
    with a 10× backlog queued — plan and sink cost scale with
    the BATCH, not the backlog)."""
    run_ids: list[str] = []
    with _probe_pipeline(spark, "bench-drain-") as (add, start):
        # Phase 1: steady state — one cap-sized batch through, then stop.
        add(cap, 0)
        q = start(trigger_sec)
        deadline = time.time() + 10 * trigger_sec + 60
        while time.time() < deadline:
            if sum(p["numInputRows"] for p in q.recentProgress) >= cap:
                break
            time.sleep(1.0)
        run_ids.append(str(q.runId))
        q.stop()
        q.awaitTermination()

        # Phase 2: the outage — a 10×-cap backlog lands, nothing consumes.
        backlog = cap * backlog_mult
        add(backlog, cap)

        # Phase 3: restart from the checkpoint; measure the drain.
        want_batches = -(-backlog // cap)
        t0 = time.time()
        q = start(trigger_sec)
        deadline = time.time() + (want_batches + 6) * trigger_sec + 120
        while time.time() < deadline:
            if sum(p["numInputRows"] for p in q.recentProgress) >= backlog:
                break
            time.sleep(1.0)
        drain_wall = time.time() - t0
        progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
        run_ids.append(str(q.runId))
        q.stop()
        q.awaitTermination()

    if not progresses:
        raise RuntimeError("backlog-drain probe produced no non-empty micro-batches")
    commits = sorted(p["durationMs"]["triggerExecution"] / 1000.0 for p in progresses)
    rows = [p["numInputRows"] for p in progresses]
    return {
        "trigger_sec": trigger_sec,
        "query_run_ids": run_ids,
        "admission_cap": cap,
        "backlog_events": backlog,
        "batches_to_drain": len(progresses),
        "max_batch_rows": max(rows),
        "cap_respected": max(rows) <= cap,
        "peak_commit_sec": round(commits[-1], 3),
        "p50_commit_sec": round(commits[len(commits) // 2], 3),
        "drain_wall_sec": round(drain_wall, 3),
        # trigger-paced floor: a 5 s trigger idles between sub-5s batches,
        # so wall ≈ batches × trigger even when commits are fast
        "trigger_paced_floor_sec": want_batches * trigger_sec,
    }


def main(only: list[str]) -> int:
    """Time every query, or only the ``only`` ones (see the module
    docstring)."""
    from cdc_dedupe_spark.queries import REGISTRY

    unknown = [n for n in only if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries {unknown}; valid names: {' '.join(sorted(REGISTRY))}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.removeprefix("sf")) if Path(sf_dir).name.startswith("sf") else -1.0
    sf_dir, rechunked = _maybe_rechunk(sf_dir)

    if not only:
        # Parallelism-defect probe (diag.py): run under an event log so
        # single-task stages are flagged post-run. ALWAYS a fresh per-run
        # subdirectory — even when the user exports SPARK_GRAFT_EVENTLOG_DIR
        # (then used as the parent), so skew_flags never parses a previous
        # run's logs into this run's SKEW_LOCAL.json. Every log file in
        # evlog_dir belongs to this bench.
        import tempfile

        _ev_base = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
        if _ev_base:
            os.makedirs(_ev_base, exist_ok=True)
        evlog_dir = tempfile.mkdtemp(prefix="bench-evlog-", dir=_ev_base)
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = evlog_dir

    from cdc_dedupe_spark.session import get_spark

    spark = get_spark("cdc-dedupe-spark-bench")
    if rechunked:
        # Size byte-range splits to the re-chunked row groups (~1-3 MiB
        # each at sf0.1) — row groups only become separate scan tasks
        # when maxPartitionBytes is below the file size. Bench-session
        # only; parity/tests keep engine defaults.
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
        spark.conf.set("spark.sql.files.openCostInBytes", str(128 * 1024))

    # Warm the JVM/Python-worker paths once so per-query numbers measure the
    # engine, not first-call startup (BASELINE.md: warm JVM, cached session).
    # Guarded: a broken single table must never zero the whole bench (r5).
    # cdc_dedupe_first warms the batch path; cdc_dedupe_stream warms the
    # streaming engine (state store, micro-batch planner, replay schema
    # cache) so the first measured streaming query isn't charged one-time
    # init — BASELINE.md's replay floor is a warm-engine number.
    # graph_cc_sizes + dedup_minhash_exact (VERDICT r13 #6): the iterative
    # join/CC machinery and the codegen'd hash/sort/agg spine JIT-compile
    # on first heavy use (~5 s, C2 tier), which used to land on whichever
    # queries sorted first alphabetically (agg_approx_distinct measured
    # 3.2 s in-suite vs 0.6 s solo-warm in r13) — pay it here, untimed.
    for warm in ("cdc_dedupe_first", "cdc_dedupe_stream", "graph_cc_sizes", "dedup_minhash_exact"):
        try:
            spark.sparkContext.setJobGroup("warmup", f"warmup:{warm}")
            force_full_plan(REGISTRY[warm].spark(spark, sf_dir))
        except Exception as e:
            print(f"bench warm-up {warm} failed (continuing): {type(e).__name__}: {e}", file=sys.stderr)

    # Fixed Structured-Streaming harness cost, measured ONCE on a warm
    # engine: a no-op availableNow query (stream the events file into a
    # single global count) costs ~1 s regardless of dataflow —
    # StreamExecution thread spawn, offset/commit WAL writes, file
    # listing, and 32 state-store instances. Every stream_* per-query
    # number below carries this constant, so the suite wall overstates
    # the streaming DATAFLOW cost by ~n_stream × overhead; the summary
    # fields let the reader (and BASELINE comparisons) separate the two
    # (VERDICT r8 "Next round" #6). Raw per-query numbers stay untouched
    # for round-over-round comparability.
    stream_overhead = None
    if not only:
        try:
            from cdc_dedupe_spark.sources.replay import events_stream
            from cdc_dedupe_spark.streaming.run import run_to_memory

            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                run_to_memory(
                    events_stream(spark, sf_dir).groupBy().count(),
                    "bench_noop_stream",
                    output_mode="complete",
                ).count()
                samples.append(time.perf_counter() - t0)
            stream_overhead = round(sorted(samples)[1], 3)  # median of 3
        except Exception as e:
            print(f"stream overhead probe failed (continuing): {e}", file=sys.stderr)

    # Median-of-N suite runs (VERDICT r17 ask #2): r17's committed headline
    # (392.5 s) was one run under afternoon host load while three same-HEAD
    # runs sat at 300.9-356.6 s — a single-number headline turns host noise
    # into phantom regressions. Run the full suite N times (default 3,
    # SPARK_GRAFT_BENCH_RUNS to override), publish the MEDIAN run's wall as
    # the headline and its per-query map as "queries", and keep every
    # run's total in "runs" so the spread is in the artifact itself.
    # Runs 2..N measure a warmer engine than run 1 — that is the point:
    # BASELINE.md's targets are warm-JVM numbers, and the median discards
    # whichever single run a load spike (or residual JIT) distorted.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # Wall budget (seconds) for the suite-runs loop: if the NEXT run's
    # projected cost (the slowest completed run) would cross it, stop and
    # publish the median of the runs that finished — a slow host degrades
    # the evidence from median-of-3 to median-of-fewer instead of the
    # whole bench being killed mid-run with no artifact at all.
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1800"))
    failures: dict[str, str] = {}
    count_eval: list[str] = []
    run_walls: list[float] = []
    run_queries: list[dict[str, float]] = []
    loop_t0 = time.perf_counter()
    for run_i in range(n_runs):
        if run_walls and (
            time.perf_counter() - loop_t0 + max(run_walls) > budget
        ):
            print(
                f"bench budget ({budget:.0f} s): stopping after "
                f"{len(run_walls)}/{n_runs} suite runs",
                file=sys.stderr,
            )
            break
        per_query: dict[str, float] = {}
        total = 0.0
        for name in sorted(only or REGISTRY):
            if name in failures:
                continue  # failed once; re-running N times hides nothing new
            q = REGISTRY[name]
            # Tag the query's jobs so diag.skew_flags can attribute flagged
            # stages (streaming micro-batch jobs set their own group; those
            # flags carry the stream's run id instead — still readable).
            spark.sparkContext.setJobGroup(name, name)
            t0 = time.perf_counter()
            try:
                mode = force_full_plan(q.spark(spark, sf_dir))
                dt = time.perf_counter() - t0
                per_query[name] = round(dt, 3)
                total += dt
                if run_i == 0 and mode == "count":
                    count_eval.append(name)
            except Exception as e:  # record and continue; a failed query must not hide the rest
                failures[name] = f"{type(e).__name__}: {e}"[:200]
        run_walls.append(round(total, 3))
        run_queries.append(per_query)

    done = len(run_walls)
    med_i = sorted(range(done), key=lambda i: run_walls[i])[done // 2]
    per_query = run_queries[med_i]

    result = {
        "metric": "declared_query_suite_wall",
        "value": run_walls[med_i],
        "unit": "sec",
        # r13+: per-query time forces FULL plan evaluation (hash-fold of
        # every output column), where earlier rounds used count() and
        # under-measured pruned map-only kernels. Cross-round per-query
        # comparisons straddle that boundary.
        "eval": "full-plan-hash",
        # r18+: value = the MEDIAN run's wall; queries = that run's
        # per-query map; runs[] carries every run's total (host-load
        # spread stays visible). Earlier BENCH artifacts are single runs.
        "runs": run_walls,
        # Per-run coverage (ADVICE r18 #4): a query that fails in run 1
        # is skipped in later runs, so runs[] walls can cover different
        # query sets — the counts make any coverage difference explicit
        # instead of letting the median silently exclude failures.
        "runs_n_queries": [len(m) for m in run_queries],
        "median_run_index": med_i,
        "queries": per_query,
        "sf": sf,
        # r17: multi-row-group corpus copy + 2 MiB split size (see
        # _maybe_rechunk) — scan-task granularity changed vs r16 and
        # earlier BENCH artifacts.
        "corpus": "rechunked-8rg" if rechunked else "driver-original",
    }
    if count_eval:
        # Per-query eval-mode record (ADVICE r13 #1): these map-typed
        # outputs were evaluated via count(), not the hash fold.
        result["count_eval"] = sorted(count_eval)
    stream_names = [n for n in per_query if n.startswith("stream_") or n == "cdc_dedupe_stream"]
    if stream_overhead is not None and stream_names:
        fam_wall = sum(per_query[n] for n in stream_names)
        result["stream_harness_overhead_sec"] = stream_overhead
        result["stream_family"] = {
            "n_queries": len(stream_names),
            "wall_sec": round(fam_wall, 3),
            "dataflow_sec": round(max(0.0, fam_wall - stream_overhead * len(stream_names)), 3),
        }
    # BASELINE.md floor: streaming dedupe replay >= 5,000 events/s.
    if "cdc_dedupe_stream" in per_query and per_query["cdc_dedupe_stream"] > 0:
        n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        result["stream_events_per_s"] = round(n_events / per_query["cdc_dedupe_stream"], 1)
    # BASELINE.md row "p50 batch commit <= 10 s under trigger='5 seconds'"
    # (VERDICT r16 ask #6): measured under a REAL processing-time trigger;
    # adds ~(n_batches * trigger) wall, opt out with SPARK_GRAFT_BENCH_LATENCY=0.
    if not only and os.environ.get("SPARK_GRAFT_BENCH_LATENCY", "1") == "1":
        try:
            result["microbatch_latency"] = _latency_probe(spark)
        except Exception as e:
            print(f"latency probe failed (continuing): {type(e).__name__}: {e}", file=sys.stderr)
        # Recovery twin (VERDICT r17 ask #6): restart-under-backlog drain.
        try:
            result["backlog_drain"] = _backlog_drain_probe(spark)
        except Exception as e:
            print(f"backlog-drain probe failed (continuing): {type(e).__name__}: {e}", file=sys.stderr)
    if failures:
        result["failures"] = failures

    # Parallelism-defect sweep (diag.py): the event log is complete once
    # the session stops; parse it and persist per-stage flags. The
    # printed line carries only the count — SKEW_LOCAL.json has details.
    spark.stop()
    if not only:
        try:
            from cdc_dedupe_spark.diag import skew_flags

            probe_runs = tuple(
                rid
                for rid in (
                    (result.get("microbatch_latency") or {}).get("query_run_id"),
                    (result.get("backlog_drain") or {}).get("query_run_ids", ()),
                )
                for rid in (rid if isinstance(rid, (list, tuple)) else (rid,))
                if rid
            )
            raw = [
                f
                for f in skew_flags(evlog_dir, min_task_sec=1.0)
                if f["query"] != "warmup"
                and not any(rid in f["query"] for rid in probe_runs)
            ]
            # N suite runs replay every stage N times — collapse repeats of the
            # same defect to one flag (the worst occurrence) with a count, so
            # "skew_flags: 3" still means three DISTINCT defects, not one seen
            # three times.
            by_defect: dict[tuple, dict] = {}
            for f in raw:
                k = (f["query"], f["kind"])
                if k not in by_defect or f["max_task_sec"] > by_defect[k]["max_task_sec"]:
                    prev = by_defect.get(k, {}).get("occurrences", 0)
                    by_defect[k] = {**f, "occurrences": prev + 1}
                else:
                    by_defect[k]["occurrences"] += 1
            flags = sorted(
                by_defect.values(), key=lambda f: -f["max_task_sec"]
            )
            Path(_REPO, "SKEW_LOCAL.json").write_text(
                json.dumps({"sf": sf, "min_task_sec": 1.0, "flags": flags}, indent=1) + "\n"
            )
            result["skew_flags"] = len(flags)
            if flags:
                worst = max(flags, key=lambda f: f["max_task_sec"])
                print(f"skew flags: {len(flags)} (worst: {worst})", file=sys.stderr)
        except Exception as e:
            print(f"skew sweep failed (continuing): {type(e).__name__}: {e}", file=sys.stderr)

        # Persist the full result (a tail capture of the output can cut the
        # printed line), then print last so no JVM shutdown logs land after
        # the JSON and push it out of a tail window.
        Path(_REPO, "BENCH_LOCAL.json").write_text(json.dumps(result) + "\n")
    # The driver captures only the LAST 2000 bytes of output (measured:
    # BENCH_r04 tail == 2000 chars while the full line was 2629 -> parsed
    # null). Budget the printed line: keep the slowest queries (the ones
    # graded against the 30 s/query ceiling) until the line fits, and say
    # how many fast ones were dropped. The full per-query map is always in
    # BENCH_LOCAL.json above.
    budget = int(os.environ.get("SPARK_GRAFT_BENCH_LINE_BUDGET", "1900"))
    line = json.dumps(result, separators=(",", ":"))
    if len(line) > budget:
        slowest_first = sorted(per_query.items(), key=lambda kv: (-kv[1], kv[0]))
        result["queries"] = {}
        result["queries_omitted"] = len(slowest_first)
        result["full_queries_in"] = "BENCH_LOCAL.json"
        for name, secs in slowest_first:
            result["queries"][name] = secs
            result["queries_omitted"] -= 1
            trial = json.dumps(result, separators=(",", ":"))
            if len(trial) > budget:
                del result["queries"][name]
                result["queries_omitted"] += 1
                break
        line = json.dumps(result, separators=(",", ":"))
    sys.stdout.flush()
    sys.stderr.flush()
    print(line, flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
