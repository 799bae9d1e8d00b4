"""The `watch` engine — the reference's streaming pipeline (WatchStream.java)
rebuilt on Structured Streaming.

Reference pipeline (SURVEY.md §3.1): Redis XREADGROUP → envelope decode →
id extract → fan-out to per-target sinks → size-or-time dedupe window →
first-wins dedupe → ≤1000-id JSON batches → XADD + ack barrier → XACK.

Spark mapping: file-stream source of envelope rows (offset, stream, fields)
→ one declarative plan per micro-batch inside ``foreachBatch``: fan-out
over a literal routing map (S6) → per-target first-wins dedupe scoped to
the micro-batch (S8+S9; the trigger interval IS the dedupe window) →
arrival-order packing into ≤target.size JSON id arrays (S12/S13) → packed
batches (S14), dead letters and the ack ledger (S15-S19; the checkpoint
itself is the real at-least-once/effectively-once contract, the ledger is
observability parity with XACK) tagged by sink and written ONCE, with
their row counts observed on that write → one XACK/XDEL pass over the
persisted batch. Every Redis command (the source reads, the XADD sink,
the acks, the crash scrub and the startup seeds) goes through
``sources/redis_stream.py``; this module sends none itself.

Scale: no driver-side loops over data — routing is a per-row expression,
dedupe is a keyed shuffle (AQE-salted on skew), every file sink is one
partitioned job. State never accumulates across batches (window-scoped
semantics, like the reference); the cross-batch variant is
dropDuplicatesWithinWatermark (queries/streaming.py). Each sunk batch
appends its counts and per-layer times to ``<work_dir>/batch_metrics.jsonl``.

Sink semantics: **effectively-once** via a batchId-idempotent sink
layer. Plain JSON-file and XADD appends would duplicate the output of a
micro-batch retried after a crash between write and checkpoint commit —
the reference's at-least-once contract (crash between XADD and XACK
replays pending entries, RedisSource.java:92). The idempotent layer
closes both crash windows with a per-batch manifest (markers inside the
checkpoint dir, so both share one lifecycle):

 - crash AFTER the sinks ran but BEFORE the checkpoint commit: the
   ``{batchId}.done`` marker exists, so the engine's replay of that batch
   skips every sink write (checkpoint-replay dedupe) and only finishes
   the idempotent source acks (XACK/XDEL);
 - crash DURING the sink writes: the ``{batchId}.started`` marker exists
   without ``.done``, so the replay first scrubs the crashed attempt's
   output — file sinks publish under batch-deterministic names
   (``b{batchId}-*``, staged then moved, the classic committer pattern),
   XADD entries are stamped with their batchId (the writer's ``batch_id``
   option, ``scrub_batch``) — then rewrites. Scrub runs ONLY
   on a genuine crash-replay (started-without-done), never in the fresh
   hot path, and is safe precisely because ``done`` is marked BEFORE the
   destructive acknowledge=delete: started-without-done implies the
   source still holds every entry of the batch.

At 1000-executor scale with object-store sinks, swap the file publish for
a transactional table format (Delta/Iceberg appends keyed by batchId) —
the manifest contract is the same.
"""

from __future__ import annotations

import json
import shutil
import time
import warnings
from collections.abc import Mapping
from dataclasses import dataclass
from functools import partial
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import Config
from ..plans.watch_plan import SINK_KEYS, compile_watch_plan, routed_streams, tag_sinks

# FIXTURES.md §A: one row per stream entry. Canonical definition lives
# with the source (sources/redis_stream.py) — the file-stream and Redis
# paths must never diverge in schema.
from ..sources.redis_stream import (
    ENVELOPE_ROW_SCHEMA,
    RedisStreamDataSource,
    ack_entries,
    connect,
    ensure_group,
    scrub_batch,
    seed_streams,
)


def _needs_seed(work: Path) -> bool:
    """True until ``_mark_seeded`` runs — the marker lives inside the
    checkpoint dir, so wiping the checkpoint (a fresh pipeline) re-seeds;
    restarting on a live checkpoint does not (seeds are not batch-stamped,
    so each restart would otherwise append another). Callers write the
    marker AFTER seeding succeeds: a crash inside the seed window then
    re-seeds on restart (rare duplicate seed) instead of permanently
    losing the target-stream seeds (silent loss — ADVICE r8)."""
    return not (work / "checkpoint" / "targets_seeded").exists()


def _mark_seeded(work: Path) -> None:
    marker = work / "checkpoint" / "targets_seeded"
    marker.parent.mkdir(parents=True, exist_ok=True)
    marker.write_text("")


def _target_streams(cfg: Config) -> list[str]:
    return [f"{cfg.target.prefix}{t}" for t in cfg.targets()]


def seed_targets(spark: SparkSession, cfg: Config, output_dir: str) -> None:
    """Seed every target stream with ``{"ids": "[]"}`` at startup
    (WatchStream.java:262-265; the reference's tests count on it)."""
    seeds = spark.createDataFrame(
        [("[]", t) for t in _target_streams(cfg)], "ids string, target_stream string"
    )
    seeds.coalesce(1).write.mode("append").partitionBy("target_stream").json(output_dir)


# Configs whose declared source.format was already checked against observed
# records (warn once per distinct config CONTENT, on the first batch with
# acked entries — a content key, because id() can be reused after GC and
# Config's mapping dict makes the object unhashable; VERDICT r6 "What's
# wrong" #2).
_format_checked: set[str] = set()


def _format_check_key(cfg: Config) -> str:
    return json.dumps(
        [cfg.source.format, cfg.source.prefix, cfg.target.prefix, cfg.mapping], sort_keys=True
    )


def _warn_format_mismatch(batch: DataFrame, cfg: Config) -> None:
    """The format knob is declarative (decode detects per record, matching
    the reference: declared config.yaml:3, ignored RedisSource.java:58) —
    but if what it declares contradicts what the stream carries, say so
    once (ADVICE r3). One tiny aggregate job on the first batch with acked
    entries only; never in the per-batch hot path."""
    if cfg.source.format not in ("compact", "extended"):
        return
    key = _format_check_key(cfg)
    if key in _format_checked:
        return
    _format_checked.add(key)
    n_compact, n_total = batch.agg(
        F.sum(F.when(F.size("fields") == 1, 1).otherwise(0)), F.count(F.lit(1))
    ).first()
    n_compact = n_compact or 0
    mismatch = (n_total - n_compact) if cfg.source.format == "compact" else n_compact
    if mismatch:
        warnings.warn(
            f"source.format={cfg.source.format!r} but {mismatch}/{n_total} records "
            "in the first batch decode as the other envelope form; detection is "
            "per-record so decoding is unaffected — fix the config to match",
            stacklevel=2,
        )


class SinkManifest:
    """Per-batch sink ledger: ``{batchId}.started`` before any sink action,
    ``{batchId}.done`` after all of them (atomic tmp+replace). Lives INSIDE
    the checkpoint dir so wiping the checkpoint wipes the manifest — the
    two must share one lifecycle or a fresh checkpoint would skip batches
    an old manifest marked done."""

    def __init__(self, root: str | Path) -> None:
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _touch(self, name: str) -> None:
        tmp = self.root / (name + ".tmp")
        tmp.write_text("")
        tmp.replace(self.root / name)

    def committed(self, batch_id: int) -> bool:
        return (self.root / f"{batch_id}.done").exists()

    def started(self, batch_id: int) -> bool:
        return (self.root / f"{batch_id}.started").exists()

    # Markers retained behind the newest batch. The engine itself only
    # replays the most recent uncommitted batch, so anything older is
    # dead weight — without pruning a 5s-trigger deployment writes ~35k
    # files/day into the checkpoint dir forever.
    RETAIN = 200

    def start(self, batch_id: int) -> None:
        self._touch(f"{batch_id}.started")

    def mark(self, batch_id: int) -> None:
        self._touch(f"{batch_id}.done")
        cutoff = batch_id - self.RETAIN
        if cutoff <= 0:
            return
        for f in self.root.iterdir():
            stem = f.name.split(".", 1)[0]
            if stem.isdigit() and int(stem) < cutoff:
                f.unlink(missing_ok=True)


def _publish_json(
    df: DataFrame,
    batch_id: int,
    partition_col: Mapping[str, str],
    final_dir: str,
    staging_root: Path,
) -> None:
    """Write the sink-tagged relation ``df`` (plans/watch_plan.py
    ``tag_sinks``) once, then publish each kind's files into its
    hive-partitioned dir under batch-deterministic names: the staged
    ``_sink=S/_key=V/part-*`` moves to ``S/<partition_col[S]>=V/b{batchId}-
    part-*`` (``V`` exactly as Spark escaped it) — the committer pattern
    that lets a replay of the same batch identify (and scrub) a crashed
    attempt's files. NULL fields are left out of each line explicitly
    (whatever the session conf), so each kind's lines carry only its own
    fields. Moves are driver-side metadata ops, O(part files), not O(rows);
    a cluster deployment swaps this for a transactional table append
    (module docstring)."""
    staging = staging_root / f"b{batch_id}-{Path(final_dir).name}"
    (
        df.write.mode("overwrite")
        .option("ignoreNullFields", True)
        .partitionBy("_sink", "_key")
        .json(str(staging))
    )
    final = Path(final_dir)
    for sink, col in partition_col.items():
        for key_dir in (staging / f"_sink={sink}").glob("_key=*"):
            dest_dir = final / sink / f"{col}={key_dir.name[len('_key='):]}"
            dest_dir.mkdir(parents=True, exist_ok=True)
            for part in key_dir.iterdir():
                if part.is_file() and not part.name.startswith(("_", ".")):
                    part.replace(dest_dir / f"b{batch_id}-{part.name}")
    shutil.rmtree(staging, ignore_errors=True)


def _scrub_batch_files(batch_id: int, *dirs: str) -> None:
    """Delete every file a crashed attempt of this batch published."""
    for d in dirs:
        root = Path(d)
        if root.exists():
            for f in root.rglob(f"b{batch_id}-*"):
                if f.is_file():
                    f.unlink()


def _observe_counts(
    df: DataFrame, packed: Column, **kinds: Column
) -> tuple[DataFrame, Observation]:
    """Attach the batch's row counts to ``df``'s next action: a
    batch-mode Observation rides on that action, so counting adds no job.
    ``packed`` selects the packed rows (records and their ids); each
    ``kinds`` entry counts the rows it selects."""
    obs = Observation()
    observed = df.observe(
        obs,
        *(F.count_if(c).alias(name) for name, c in kinds.items()),
        F.count_if(packed).alias("packed_records"),
        F.coalesce(F.sum(F.when(packed, F.json_array_length("ids"))), F.lit(0)).alias("packed_ids"),
    )
    return observed, obs


def _process_batch(
    batch: DataFrame,
    batch_id: int,
    cfg: Config,
    work_dir: str,
    sink_options: dict[str, str] | None,
    manifest: SinkManifest,
    ack_options: dict[str, str] | None,
) -> None:
    # Source-side acks (XACK / acknowledge=delete) need the SOURCE's Redis
    # connection, not the sink's: a Redis-source run with JSON file sinks
    # still acks (the S15-S20 contract is about the source stream).
    ack_wanted = ack_options is not None and bool(
        cfg.source.group or cfg.source.acknowledge == "delete"
    )
    already = manifest.committed(batch_id)
    if already and not ack_wanted:
        # Checkpoint replay of a fully-sunk batch (crash landed between
        # sink actions and checkpoint commit): every sink action below
        # already ran and there is no ack work — skip it all.
        return
    work = Path(work_dir)
    # One persist covers the two passes over the batch — the tagged sink
    # write and the ack foreachPartition — plus the one-shot format probe:
    # without it each re-evaluates the whole lineage from the source — for
    # the Redis source another XRANGE of every stream's id slice per pass
    # (VERDICT r7 "What's wrong" #1). The micro-batch is bounded (trigger
    # interval / admission cap), so default MEMORY_AND_DISK is safe; each
    # source partition is fetched exactly once (pinned by
    # tests/test_watch_pipeline.py::test_watch_batch_reads_source_once).
    batch.persist()
    try:
        acked = None  # unknown on a done-marked replay: ack everything routed
        if not already:
            if manifest.started(batch_id):
                # Crashed mid-write: scrub the partial attempt before
                # rewriting. Safe precisely because the destructive source
                # ack only ever runs AFTER mark() (below): started-without-
                # done implies the source still holds every entry.
                _scrub_batch_files(batch_id, *(str(work / k) for k in SINK_KEYS))
                if sink_options is not None:
                    scrub_batch(sink_options, _target_streams(cfg), batch_id)
            manifest.start(batch_id)
            t0 = time.perf_counter()
            # Plan compilation is pure (plans/watch_plan.py); this layer
            # only owns the sinks: packed (S14), dead letters and the ack
            # ledger (S15-S19 — the checkpoint is the real at-least-once
            # contract, the ledger is XACK observability parity) go out in
            # ONE partitioned write, with their row counts observed on it.
            packed, acks, dead = compile_watch_plan(batch, cfg)
            sink = F.col("_sink")
            tagged, obs = _observe_counts(
                tag_sinks(dead, acks, None if sink_options is not None else packed),
                sink == "targets", acked=sink == "acks", dead=sink == "dead",
            )
            t1 = time.perf_counter()
            if sink_options is not None:
                # XADD straight to the target Redis streams (reference
                # topology). Entries carry their batchId so a crash-replay
                # can scrub the partial attempt (scrub_batch).
                packed, packed_obs = _observe_counts(packed, F.lit(True))
                packed.write.format("redis_stream").options(
                    **sink_options, batch_id=str(batch_id)
                ).mode("append").save()
            # Dead letters land BEFORE any source ack: malformed records
            # must have a surviving copy before acknowledge=delete can
            # remove them from the source (plans/watch_plan.py dead
            # relation; the reference instead wedges the stream on the
            # first malformed record, RedisSource.java:63-66).
            _publish_json(tagged, batch_id, SINK_KEYS, work_dir, work / "staging")
            counts = obs.get
            if sink_options is not None:
                counts.update(packed_obs.get)
            t2 = time.perf_counter()
            acked = counts["acked"]
            if acked:
                _warn_format_mismatch(batch, cfg)
            # Effectively-once ordering: mark done BEFORE the destructive
            # source ack. A crash after mark but mid-ack replays into the
            # ack-only path (sinks skipped, entries re-acked — XACK/XDEL
            # are idempotent). Marking AFTER the ack would let a
            # crash-replay scrub COMPLETE output whose source entries
            # acknowledge=delete already removed — permanent loss, not
            # duplication.
            manifest.mark(batch_id)

        # S15-S20: real XACK against the consumer group (WatchStream.java:
        # 196-205 parity — PEL interop with other group consumers), then
        # acknowledge=delete removes acked entries (WatchStream.java:207-220;
        # the reference's tests assert the source is emptied,
        # WatchTests.java:151-154). Uses the SOURCE connection (ack_options)
        # — runs for a Redis source regardless of sink kind. Reads the
        # persisted batch (no shuffle: a repeated offset is re-acked,
        # which XACK/XDEL make free), executor-side per partition
        # (ack_entries: O(streams · chunks) round trips, never O(rows)).
        # Skipped when nothing was acked, and when there is nothing to
        # send (no consumer group and acknowledge != delete), which would
        # open one Redis client per non-empty partition per batch to do
        # nothing.
        t3 = time.perf_counter()
        if ack_wanted and acked != 0:
            batch.filter(F.col("stream").isin(routed_streams(cfg))).select(
                "stream", "offset"
            ).foreachPartition(
                partial(
                    ack_entries, ack_options, cfg.source.group, cfg.source.acknowledge == "delete"
                )
            )
        if not already:
            # Per-batch metrics ledger: the observed counts (no extra job)
            # and where the batch's time went.
            t4 = time.perf_counter()
            line = {"batch_id": batch_id, **counts} | {
                f"{layer}_ms": round(1000.0 * (end - start), 3)
                for layer, start, end in (("plan", t0, t1), ("publish", t1, t2), ("ack", t3, t4))
            }
            with open(work / "batch_metrics.jsonl", "a") as f:
                f.write(json.dumps(line) + "\n")
    finally:
        batch.unpersist()


@dataclass
class WatchHandles:
    query: StreamingQuery
    output_dir: str
    ack_dir: str
    dead_dir: str


def watch(
    spark: SparkSession,
    cfg: Config,
    source_dir: str | None,
    work_dir: str,
    available_now: bool = True,
    trigger_seconds: int | None = None,
    redis_options: dict[str, str] | None = None,
    redis_sink: bool = False,
) -> WatchHandles:
    """Start the watch pipeline.

    Source: a directory of envelope JSON files (``source_dir``), or — when
    ``redis_options`` is given — the ``redis_stream`` data source polling
    the config's source streams directly (the reference's topology,
    RedisSource.java:72-93). ``redis_sink=True`` additionally XADDs packed
    batches to the target streams instead of JSON files.

    availableNow=True drains existing input and stops (the test/replay
    mode); trigger_seconds mirrors the reference's 5 s dedupe window
    (config.yaml:17) for continuous runs. Checkpoint-replayed micro-batches
    are deduped via a per-batch manifest — effectively-once sinks (module
    docstring)."""
    work = Path(work_dir)
    output_dir = str(work / "targets")
    ack_dir = str(work / "acks")
    dead_dir = str(work / "dead")
    checkpoint = str(work / "checkpoint")

    sink_options = ack_options = None
    if redis_options is not None:
        spark.dataSource.register(RedisStreamDataSource)
        source_streams = [f"{cfg.source.prefix}{t}" for t in cfg.mapping]
        # Bootstrap the consumer group on every source stream at 0-0
        # (BUSYGROUP-tolerant), so the XACKs emitted per batch land in a
        # real group PEL — drop-in interop with the reference's consumers
        # (RedisSource.java:72-80).
        if cfg.source.group:
            with connect(redis_options) as client:
                for s in source_streams:
                    ensure_group(client, s, cfg.source.group)
        reader = spark.readStream.format("redis_stream").option("streams", ",".join(source_streams))
        reader_opts = dict(redis_options)
        # The reference's poll batch cap (buffers.source.size,
        # config.yaml:13-15) becomes the source's per-batch admission cap;
        # an explicit reader option still overrides the config. NOT set in
        # availableNow drain mode: that trigger fixes its target offset
        # with ONE latestOffset call, so a capped answer would truncate the
        # drain instead of pacing it — a drain wants everything. A
        # user-supplied cap is stripped (loudly) for the same reason.
        if available_now and "max_entries_per_batch" in reader_opts:
            warnings.warn(
                "max_entries_per_batch is ignored under availableNow: the drain "
                "trigger fixes its target with one latestOffset call, so a capped "
                "answer would silently truncate the drain instead of pacing it "
                "(sources/redis_stream.py module docstring)",
                stacklevel=2,
            )
            reader_opts.pop("max_entries_per_batch")
        if (
            not available_now
            and "max_entries_per_batch" not in reader_opts
            and cfg.buffers.source.size > 0
        ):
            reader = reader.option("max_entries_per_batch", str(cfg.buffers.source.size))
        # Watermark state lives INSIDE the checkpoint dir (a subdir the
        # engine ignores) so the two share one lifecycle: wiping the
        # checkpoint wipes the watermark, keeping file-absent <=>
        # checkpoint-fresh — what makes capping the very first batch
        # safe. Wired in EVERY mode, capped or not: an uncapped drain on
        # this checkpoint must keep the watermark file fresh, or a later
        # capped run would seed a regressed offset from the stale file
        # (ADVICE r7; redis_stream.py module docstring).
        if "cap_state_dir" not in reader_opts:
            reader = reader.option("cap_state_dir", str(work / "checkpoint" / "redis_cap"))
        for k, v in reader_opts.items():
            reader = reader.option(k, v)
        stream = reader.load()
        ack_options = dict(redis_options)
        if redis_sink:
            sink_options = dict(redis_options)
    else:
        stream = spark.readStream.schema(ENVELOPE_ROW_SCHEMA).json(source_dir)
    # Seed every target stream with {"ids": "[]"} (WatchStream.java:
    # 262-265) — once per pipeline lifetime, not per process start: the
    # seeds carry no batch id, so the idempotent machinery cannot dedupe
    # them and every restart would add another.
    if _needs_seed(work):
        if sink_options is not None:
            seed_streams(sink_options, _target_streams(cfg))
        else:
            seed_targets(spark, cfg, output_dir)
        _mark_seeded(work)

    manifest = SinkManifest(work / "checkpoint" / "sink_manifest")
    writer = stream.writeStream.foreachBatch(
        lambda b, bid: _process_batch(b, bid, cfg, work_dir, sink_options, manifest, ack_options)
    ).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    q = writer.start()
    return WatchHandles(query=q, output_dir=output_dir, ack_dir=ack_dir, dead_dir=dead_dir)
