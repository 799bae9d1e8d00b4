"""The `watch` engine — the reference's streaming pipeline (WatchStream.java)
rebuilt on Structured Streaming.

Reference pipeline (SURVEY.md §3.1): Redis XREADGROUP → envelope decode →
id extract → fan-out to per-target sinks → size-or-time dedupe window →
first-wins dedupe → ≤1000-id JSON batches → XADD + ack barrier → XACK.

Spark mapping: a file-stream or ``redis_stream`` source of envelope rows
(offset, stream, fields) → one declarative plan per micro-batch inside
``foreachBatch`` (plans/watch_plan.py): one scan decodes each entry and
generates its sink rows — fan-out over a literal routing map (S6), its
dead letter, its ack row — which feed the per-target
first-wins dedupe scoped to the micro-batch (S8+S9; the trigger interval
IS the dedupe window), the arrival-order packing into ≤target.size JSON
id arrays (S12/S13) and the aggregate that shapes packed batches (S14),
dead letters and the ack ledger (S15-S19; the checkpoint itself is the
real at-least-once/effectively-once contract, the ledger is
observability parity with XACK). That one tagged relation is collected
ONCE. The driver writes the file sinks from the collected rows in plain
Python (under ``redis_sink`` it XADDs the packed rows instead), takes
the counts and the ack set from the same rows, and sends XACK/XDEL
after the manifest marks the batch done. Every Redis command (the source
reads, the XADD sink, the acks, the crash scrub and the startup seeds)
goes through ``sources/redis_stream.py``; this module sends none itself.

Scale: routing is a per-row expression. A Redis batch runs its plan in
one task, like the reference's one poller per table; in a continuous
run the admission cap (buffers.source.size per stream) bounds it and
the sink rows the driver holds, like the reference's in-flight map. An
availableNow drain from Redis is uncapped and is one such task. An
uncapped file-source batch shuffles once on ``(_key, offset)``, so its
scan runs a task per split and its windows a task per target. State
never accumulates across batches (window-scoped semantics); the
cross-batch variant is dropDuplicatesWithinWatermark
(queries/streaming.py). Each sunk batch appends its counts and per-layer
times to ``<work_dir>/batch_metrics.jsonl``.

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
   (``b{batchId}-*``, each written as a hidden ``.b{batchId}-*.tmp`` and
   renamed into place), XADD entries are stamped with their batchId
   (``xadd_entries``, ``scrub_batch``) — then rewrites. Scrub runs ONLY
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
import os
import time
import warnings
from collections.abc import Mapping
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import Config
from ..plans.watch_plan import SINK_COLUMNS, SINK_KEYS, compile_watch_plan, routed_streams
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
    xadd_entries,
)


def _needs_seed(work: Path) -> bool:
    """True until ``_mark_seeded`` runs — the marker lives inside the
    checkpoint dir, so wiping the checkpoint (a fresh pipeline) re-seeds;
    restarting on a live checkpoint does not (XADD seeds are not
    batch-stamped, so each restart would otherwise append another).
    Callers write the marker AFTER seeding succeeds: a crash inside the
    seed window then re-seeds on restart (rare duplicate XADD seed)
    instead of permanently losing the target-stream seeds (silent loss)."""
    return not (work / "checkpoint" / "targets_seeded").exists()


def _mark_seeded(work: Path) -> None:
    marker = work / "checkpoint" / "targets_seeded"
    marker.parent.mkdir(parents=True, exist_ok=True)
    marker.write_text("")


def _target_streams(cfg: Config) -> list[str]:
    return [f"{cfg.target.prefix}{t}" for t in cfg.targets()]


def seed_targets(cfg: Config, output_dir: str) -> None:
    """Seed every target stream with ``{"ids": "[]"}`` at startup
    (WatchStream.java:262-265; the reference's tests count on it), one
    ``seed-part-00000.json`` per target directory."""
    for t in _target_streams(cfg):
        _write_json_file(
            _key_dir(Path(output_dir), SINK_KEYS["targets"], t) / "seed-part-00000.json",
            ['{"ids":"[]"}'],
        )


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


# Spark's ExternalCatalogUtils.escapePathName: the characters a partition
# value escapes as %XX (upper-case hex) in its directory name.
_PATH_ESCAPES = {c: f"%{c:02X}" for c in (*range(0x01, 0x20), *b"\"#%'*/:=?\\{[]^", 0x7F)}

# The string escapes of Spark's JSON writer (Jackson): short forms for the
# quote, the backslash and \b \t \n \f \r, \u00XX with upper-case hex for
# the other control characters; everything else (non-ASCII, 0x7F, U+2028)
# is written raw.
_JSON_ESCAPES = {c: f"\\u{c:04X}" for c in range(0x20)} | {
    ord(c): "\\" + e for c, e in zip('"\\\b\t\n\f\r', '"\\btnfr')
}


def _key_dir(root: Path, col: str, key: str) -> Path:
    """The hive-style directory ``root/<col>=<key>`` that Spark's
    ``partitionBy(col)`` writes ``key``'s rows to."""
    return root / f"{col}={key.translate(_PATH_ESCAPES)}"


def _json_line(row: tuple) -> str:
    """A sink row as Spark's JSON writer writes it with ignoreNullFields:
    the non-NULL fields after ``(_sink, _key)``, in column order, with
    compact separators. Every field is a string."""
    fields = zip(SINK_COLUMNS[2:], row[2:])
    return "{" + ",".join(
        f'"{name}":"{value.translate(_JSON_ESCAPES)}"'
        for name, value in fields
        if value is not None
    ) + "}"


def _write_json_file(path: Path, lines: list[str]) -> None:
    """Write ``lines`` to ``path`` through a hidden ``.<name>.tmp`` that is
    renamed into place: readers (Spark's skip hidden files) never see a
    partial file, and a crash leaves only the tmp, which
    ``_scrub_batch_files`` deletes."""
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name(f".{path.name}.tmp")
    tmp.write_bytes("".join(line + "\n" for line in lines).encode())
    os.replace(tmp, path)


def _publish_json(
    rows: list, batch_id: int, partition_col: Mapping[str, str], final_dir: str
) -> None:
    """Publish collected rows of the sink-tagged relation (plans/watch_plan.py
    ``compile_watch_plan``): each ``(_sink, _key)`` group becomes one file,
    ``S/<partition_col[S]>=V/b{batchId}-part-00000.json`` under
    ``final_dir``, with ``V`` escaped and each line written as Spark's
    partitioned JSON writer would, so Spark reads the sinks back as
    before. The batch-deterministic name lets a replay of the same batch
    identify (and scrub) a crashed attempt's files. The driver writes the
    files itself: the rows are one batch's, like its ack set, and no
    Hadoop committer runs. A cluster deployment swaps this for a
    transactional table append (module docstring)."""
    files: dict[tuple[str, str], list[str]] = {}
    for row in rows:
        files.setdefault((row[0], row[1]), []).append(_json_line(row))
    for (sink, key), lines in files.items():
        key_dir = _key_dir(Path(final_dir) / sink, partition_col[sink], key)
        _write_json_file(key_dir / f"b{batch_id}-part-00000.json", lines)


def _scrub_batch_files(batch_id: int, *dirs: str) -> None:
    """Delete every file a crashed attempt of this batch published or left
    half-written (its hidden tmp files)."""
    for d in dirs:
        root = Path(d)
        if root.exists():
            for pattern in (f"b{batch_id}-*", f".b{batch_id}-*"):
                for f in root.rglob(pattern):
                    if f.is_file():
                        f.unlink()


# Confs for the collect of a plan with an exchange (parallel). AQE's
# empty-relation rule would cut the scan-side Observation out of the plan
# of a batch whose scan emits no sink row (an empty or all-unroutable
# batch), and it would then never report. The one-task plan needs none.
_EXCHANGE_CONFS = {
    "spark.sql.adaptive.optimizer.excludedRules":
        "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation",
}


def _observe(df: DataFrame, **metrics: Column) -> tuple[DataFrame, Observation]:
    """Attach ``metrics`` to ``df``'s next action: a batch-mode
    Observation rides on that action, so it adds no job."""
    obs = Observation()
    return df.observe(obs, *(c.alias(name) for name, c in metrics.items())), obs


def _process_batch(
    batch: DataFrame,
    batch_id: int,
    cfg: Config,
    work_dir: str,
    sink_options: dict[str, str] | None,
    manifest: SinkManifest,
    ack_options: dict[str, str] | None,
    parallel: bool = False,
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
            acks = compile_watch_plan(batch, cfg, parallel).where("_sink = 'acks'").collect()
            pairs = [(r[1], r[3]) for r in acks]
            ack_entries(ack_options, cfg.source.group, cfg.source.acknowledge == "delete", pairs)
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
    # The scan-side counts ride on the collect: input entries, the
    # unroutable ones, and the compact ones for the format probe. Only the
    # scan sees entries that yield no sink row.
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
    tagged = compile_watch_plan(scanned, cfg, parallel)
    t1 = time.perf_counter()
    with temp_sql_confs(batch.sparkSession, _EXCHANGE_CONFS if parallel else {}):
        rows = tagged.collect()
    scan = scan_obs.get
    packed = [r for r in rows if r[0] == "targets"]
    ack_set = [(r[1], r[3]) for r in rows if r[0] == "acks"]
    # Dead letters land BEFORE any source ack: malformed records must have
    # a surviving copy before acknowledge=delete can remove them from the
    # source (the reference instead wedges the stream on the first
    # malformed record, RedisSource.java:63-66).
    if sink_options is None:
        _publish_json(rows, batch_id, SINK_KEYS, work_dir)
    else:
        # The packed rows go to the target Redis streams (reference
        # topology), the rest to the files.
        xadd_entries(sink_options, [(r[1], r[2]) for r in packed], batch_id)
        _publish_json([r for r in rows if r[0] != "targets"], batch_id, SINK_KEYS, work_dir)
    t2 = time.perf_counter()
    counts = {
        "acked": len(ack_set),
        "dead": len(rows) - len(packed) - len(ack_set),
        "packed_records": len(packed),
        "packed_ids": sum(len(json.loads(r[2])) for r in packed),
    }
    if ack_set:
        _warn_format_mismatch(cfg, scan["compact"], scan["input"])
    # Effectively-once ordering: mark done BEFORE the destructive source
    # ack. A crash after mark but mid-ack replays into the ack-only path
    # (sinks skipped, entries re-acked — XACK/XDEL are idempotent). Marking
    # AFTER the ack would let a crash-replay scrub COMPLETE output whose
    # source entries acknowledge=delete already removed — permanent loss,
    # not duplication.
    manifest.mark(batch_id)
    t3 = time.perf_counter()
    # S15-S20 from the driver: XACK in the consumer group (PEL interop,
    # WatchStream.java:196-205), then acknowledge=delete removes the
    # entries (WatchStream.java:207-220, WatchTests.java:151-154).
    # XACK/XDEL are idempotent, so a replay re-acks for free.
    if ack_wanted and ack_set:
        ack_entries(ack_options, cfg.source.group, cfg.source.acknowledge == "delete", ack_set)
    # Per-batch metrics ledger: the counts (the collected rows and the
    # scan's Observation, no extra job) and where the batch's time went.
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
        # The reference's poll batch cap (buffers.source.size,
        # config.yaml:13-15) is the source's per-batch admission cap, and
        # the config is its only source. It is NOT set under availableNow:
        # the run is one batch whose end is ONE read(start), so a capped
        # read would truncate the run instead of pacing it.
        if "max_entries_per_batch" in redis_options:
            raise ValueError("set the admission cap as buffers.source.size in the config")
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
        reader_opts = dict(redis_options)
        if not available_now and cfg.buffers.source.size > 0:
            reader_opts["max_entries_per_batch"] = str(cfg.buffers.source.size)
        stream = (
            spark.readStream.format("redis_stream")
            .option("streams", ",".join(source_streams))
            .options(**reader_opts)
            .load()
        )
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
            seed_targets(cfg, output_dir)
        _mark_seeded(work)

    manifest = SinkManifest(work / "checkpoint" / "sink_manifest")
    # A file-source batch has a split per file and no admission cap, so
    # its plan runs in parallel (plans/watch_plan.py).
    parallel = redis_options is None
    writer = stream.writeStream.foreachBatch(
        lambda b, bid: _process_batch(
            b, bid, cfg, work_dir, sink_options, manifest, ack_options, parallel
        )
    ).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    q = writer.start()
    return WatchHandles(query=q, output_dir=output_dir, ack_dir=ack_dir, dead_dir=dead_dir)
