"""The `watch` engine — the reference's streaming pipeline (WatchStream.java)
rebuilt on Structured Streaming.

Reference pipeline (SURVEY.md §3.1): Redis XREADGROUP → envelope decode →
id extract → fan-out to per-target sinks → size-or-time dedupe window →
first-wins dedupe → ≤1000-id JSON batches → XADD + ack barrier → XACK.

Spark mapping: a file-stream or ``redis_stream`` source of envelope rows
(offset, stream, fields) → one declarative plan per micro-batch inside
``foreachBatch`` (plans/watch_plan.py): one scan decodes each entry and
generates its sink rows — fan-out over a literal routing map (S6), its
dead letter, its ack row — then one exchange feeds the per-target
first-wins dedupe scoped to the micro-batch (S8+S9; the trigger interval
IS the dedupe window), the arrival-order packing into ≤target.size JSON
id arrays (S12/S13) and the aggregate that shapes packed batches (S14),
dead letters and the ack ledger (S15-S19; the checkpoint itself is the
real at-least-once/effectively-once contract, the ledger is
observability parity with XACK). That one tagged relation is written
ONCE. The write's Observation carries back the row counts and the ack
set, and the driver sends XACK/XDEL from it after the manifest marks the
batch done. Every Redis command (the source reads, the XADD sink, the
acks, the crash scrub and the startup seeds) goes through
``sources/redis_stream.py``; this module sends none itself.

Scale: routing is a per-row expression and every file sink is one
partitioned job. The dedupe and the packing shuffle once, by target, so
they run one task per target. The driver holds one batch's ack set,
which the source admission cap bounds (buffers.source.size per stream),
like the reference's in-flight map. State never accumulates across
batches (window-scoped semantics, like the reference); the cross-batch
variant is dropDuplicatesWithinWatermark (queries/streaming.py). Each
sunk batch appends its counts and per-layer times to
``<work_dir>/batch_metrics.jsonl``.

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
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import Config
from ..plans.watch_plan import SINK_KEYS, compile_watch_plan, routed_streams
from ..session import temp_sql_confs

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
    losing the target-stream seeds (silent loss)."""
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
# Config's mapping dict makes the object unhashable).
_format_checked: set[str] = set()


def _format_check_key(cfg: Config) -> str:
    return json.dumps(
        [cfg.source.format, cfg.source.prefix, cfg.target.prefix, cfg.mapping], sort_keys=True
    )


def _warn_format_mismatch(cfg: Config, n_compact: int, n_total: int) -> None:
    """The format knob is declarative (decode detects per record, matching
    the reference: declared config.yaml:3, ignored RedisSource.java:58) —
    but if what it declares contradicts what the stream carries, say so
    once, on the first batch with acked entries. The counts of compact
    and of all records come from the batch's scan-side Observation, so
    the probe runs no job."""
    if cfg.source.format not in ("compact", "extended"):
        return
    key = _format_check_key(cfg)
    if key in _format_checked:
        return
    _format_checked.add(key)
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
    ``compile_watch_plan``) once, then publish each kind's files into its
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


# The write's Observation: the sink counts and the ack set, as SQL text.
_SINK_METRICS = {
    "acked": "count_if(_sink = 'acks')",
    "dead": "count_if(_sink = 'dead')",
    "packed_records": "count_if(_sink = 'targets')",
    "packed_ids": "coalesce(sum(CASE WHEN _sink = 'targets' THEN json_array_length(ids) END), 0)",
    "ack_set": "collect_list(CASE WHEN _sink = 'acks' "
    "THEN named_struct('stream', _key, 'offset', offset) END)",
}


# Confs for a batch's writes. AQE's empty-relation rule would cut the
# scan-side Observation out of the plan of a batch whose scan emits no sink
# row (an empty or all-unroutable batch), and it would then never report.
# A cached plan (the XADD path's persist) may coalesce its shuffle like any
# other plan.
_WRITE_CONFS = {
    "spark.sql.adaptive.optimizer.excludedRules":
        "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def _observe(df: DataFrame, **metrics: Column) -> tuple[DataFrame, Observation]:
    """Attach ``metrics`` to ``df``'s next action: a batch-mode
    Observation rides on that action, so it adds no job."""
    obs = Observation()
    return df.observe(obs, *(c.alias(name) for name, c in metrics.items())), obs


def _ack(cfg: Config, ack_options: dict[str, str], rows: list) -> None:
    """S15-S20 from the driver: XACK against the consumer group
    (WatchStream.java:196-205 parity: PEL interop with other group
    consumers), then acknowledge=delete removes the acked entries
    (WatchStream.java:207-220; the reference's tests assert the source is
    emptied, WatchTests.java:151-154). O(streams · chunks) round trips
    (ack_entries); XACK/XDEL are idempotent, so a replay re-acks for free."""
    ack_entries(ack_options, cfg.source.group, cfg.source.acknowledge == "delete", rows)


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
    if manifest.committed(batch_id):
        # Checkpoint replay of a fully-sunk batch (the crash landed after
        # mark, before the checkpoint commit): every sink action already
        # ran; only the source acks may be unfinished. They come from the
        # same plan's ack rows as on the first attempt.
        if ack_wanted:
            acks = compile_watch_plan(batch, cfg).where("_sink = 'acks'")
            _ack(cfg, ack_options, acks.selectExpr("_key AS stream", "offset").collect())
        return
    work = Path(work_dir)
    if manifest.started(batch_id):
        # Crashed mid-write: scrub the partial attempt before rewriting.
        # Safe precisely because the destructive source ack only ever runs
        # AFTER mark() (below): started-without-done implies the source
        # still holds every entry.
        _scrub_batch_files(batch_id, *(str(work / k) for k in SINK_KEYS))
        if sink_options is not None:
            scrub_batch(sink_options, _target_streams(cfg), batch_id)
    manifest.start(batch_id)
    t0 = time.perf_counter()
    # The scan-side counts ride on the write too: input entries, the
    # unroutable ones, and the compact ones for the format probe.
    scanned, scan_obs = _observe(
        batch,
        input=F.count(F.lit(1)),
        unroutable=F.count_if(~F.col("stream").isin(routed_streams(cfg))),
        compact=F.count_if(F.size("fields") == 1),
    )
    # Plan compilation is pure (plans/watch_plan.py); this layer only owns
    # the sinks: packed (S14), dead letters and the ack ledger (S15-S19:
    # the checkpoint is the real at-least-once contract, the ledger is
    # XACK observability parity), tagged in one relation.
    tagged, obs = _observe(
        compile_watch_plan(scanned, cfg), **{k: F.expr(v) for k, v in _SINK_METRICS.items()}
    )
    t1 = time.perf_counter()
    # Dead letters land BEFORE any source ack: malformed records must have
    # a surviving copy before acknowledge=delete can remove them from the
    # source (the reference instead wedges the stream on the first
    # malformed record, RedisSource.java:63-66).
    with temp_sql_confs(batch.sparkSession, _WRITE_CONFS):
        if sink_options is None:
            _publish_json(tagged, batch_id, SINK_KEYS, work_dir, work / "staging")
        else:
            # Two writes: XADD straight to the target Redis streams
            # (reference topology), the rest as JSON. The persist keeps
            # the source read once.
            tagged.persist()
            try:
                # Entries carry their batchId so a crash-replay can scrub
                # the partial attempt (scrub_batch).
                tagged.where("_sink = 'targets'").selectExpr(
                    "_key AS target_stream", "ids"
                ).write.format("redis_stream").options(
                    **sink_options, batch_id=str(batch_id)
                ).mode("append").save()
                _publish_json(
                    tagged.where("_sink <> 'targets'"), batch_id, SINK_KEYS, work_dir,
                    work / "staging",
                )
            finally:
                tagged.unpersist()
    scan, counts = scan_obs.get, obs.get
    t2 = time.perf_counter()
    ack_set = counts.pop("ack_set")
    if len(ack_set) != counts["acked"]:
        raise RuntimeError(
            f"batch {batch_id}: the write observed {counts['acked']} ack rows "
            f"but carried back {len(ack_set)}"
        )
    if counts["acked"]:
        _warn_format_mismatch(cfg, scan["compact"], scan["input"])
    # Effectively-once ordering: mark done BEFORE the destructive source
    # ack. A crash after mark but mid-ack replays into the ack-only path
    # (sinks skipped, entries re-acked — XACK/XDEL are idempotent). Marking
    # AFTER the ack would let a crash-replay scrub COMPLETE output whose
    # source entries acknowledge=delete already removed — permanent loss,
    # not duplication.
    manifest.mark(batch_id)
    t3 = time.perf_counter()
    if ack_wanted and ack_set:
        _ack(cfg, ack_options, ack_set)
    # Per-batch metrics ledger: the observed counts (no extra job) and
    # where the batch's time went.
    t4 = time.perf_counter()
    line = {
        "batch_id": batch_id, "input": scan["input"], "unroutable": scan["unroutable"], **counts
    } | {
        f"{layer}_ms": round(1000.0 * (end - start), 3)
        for layer, start, end in (("plan", t0, t1), ("publish", t1, t2), ("ack", t3, t4))
    }
    with open(work / "batch_metrics.jsonl", "a") as f:
        f.write(json.dumps(line) + "\n")


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

    available_now=True processes the input present at start and stops
    (the test/replay mode). The file source drains it with
    Trigger.AvailableNow. The Redis source cannot: on Spark 4.1.2 the
    engine falls back to a single batch up to the latest offset. A fresh
    run still reads everything, since the admission cap is left off; a run
    that finds an uncommitted batch in the checkpoint replays only that
    batch and stops (sources/redis_stream.py module docstring).
    trigger_seconds mirrors the reference's 5 s dedupe window
    (config.yaml:17) for continuous runs. A continuous run from Redis
    admits at most ``buffers.source.size`` entries per stream per batch,
    each batch reading on from the offset log's last end, so a restart on
    the same checkpoint stays capped. Checkpoint-replayed micro-batches
    are deduped via a per-batch manifest — effectively-once sinks (module
    docstring)."""
    work = Path(work_dir)
    output_dir = str(work / "targets")
    ack_dir = str(work / "acks")
    dead_dir = str(work / "dead")
    checkpoint = str(work / "checkpoint")

    seed = _needs_seed(work)
    sink_options = ack_options = None
    if redis_options is not None:
        spark.dataSource.register(RedisStreamDataSource)
        source_streams = [f"{cfg.source.prefix}{t}" for t in cfg.mapping]
        # One startup client. It bootstraps the consumer group on every
        # source stream at 0-0 (BUSYGROUP-tolerant), so the XACKs sent per
        # batch land in a real group PEL — drop-in interop with the
        # reference's consumers (RedisSource.java:72-80). Under redis_sink
        # it also seeds the target streams (see the seed below).
        if cfg.source.group or (redis_sink and seed):
            with connect(redis_options) as client:
                for s in source_streams if cfg.source.group else ():
                    ensure_group(client, s, cfg.source.group)
                if redis_sink and seed:
                    seed_streams(client, _target_streams(cfg))
        reader = spark.readStream.format("redis_stream").option("streams", ",".join(source_streams))
        reader_opts = dict(redis_options)
        # The reference's poll batch cap (buffers.source.size,
        # config.yaml:13-15) becomes the source's per-batch admission cap;
        # an explicit reader option still overrides the config. NOT set
        # under availableNow: the run is one batch whose end is ONE
        # read(start), so a capped read would truncate the run instead of
        # pacing it. A user-supplied cap is stripped (loudly) for the same
        # reason.
        if available_now and "max_entries_per_batch" in reader_opts:
            warnings.warn(
                "max_entries_per_batch is ignored under availableNow: the run is "
                "one batch whose end is one read, and a capped read would silently "
                "truncate it instead of pacing it "
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
    if seed:
        if sink_options is None:
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
