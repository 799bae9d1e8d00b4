"""Redis Streams I/O for the watch pipeline — the only module that sends
Redis commands. It replaces the reference's Lettuce consumer/producer
(RedisSource.java:72-93 XREADGROUP poll loop; WatchStream.java:291-293
XADD; WatchStream.java:196-220 XACK/XDEL) with:

 - a streaming source (``spark.readStream.format("redis_stream")``);
 - a batch XADD writer (``df.write.format("redis_stream")``), which the
   pipeline calls inside ``foreachBatch``;
 - the functions the pipeline's driver calls: ``ack_entries``
   (XACK/XDEL of a batch's ack set), ``scrub_batch`` (crash-replay
   cleanup of target streams), and, on the startup client from
   ``connect``, ``ensure_group`` (consumer-group bootstrap) and
   ``seed_streams`` (the startup seed entries).

``ack_entries`` and ``scrub_batch`` open their own client and close it
when done.

Spark-first mapping of the reference's consumer-group model:

 - the reference tracks per-group delivery state inside Redis (PEL +
   last-delivered-id); here the *checkpoint* owns offsets — Spark's
   streaming engine calls ``latestOffset`` on the driver, fans the
   (start, end] id range out to one ``InputPartition`` per watched stream,
   and commits the range to the offset log after the sink runs. Output is
   effectively-once only because the pipeline's batch writes are
   batchId-idempotent (streaming/pipeline.py); XADD itself is an append.
 - one partition per source stream bounds parallelism at |streams|, like
   the reference's one-Flux-per-table (WatchStream.java:113-115).

Admission control (the reference's poll batch size, config.yaml:13-15 —
capping entries per micro-batch): the Python Data Source API's
``latestOffset()`` takes no start/ReadLimit argument (unlike the JVM DSv2
``latestOffset(start, limit)``), so the cap advances a reader-held
*watermark* — the max end ever reported — by at most
``max_entries_per_batch`` entries per call (one XRANGE COUNT probe per
stream). The watermark must survive planner-process restarts AND must
never be seeded behind the engine's committed offset: the engine calls
``latestOffset`` BEFORE ``initialOffset`` on a fresh query (verified
empirically on 4.1: batch-0's end is the first latestOffset answer), and
never calls ``initialOffset`` at all on a checkpoint restart, so a
watermark guessed from the configured start id would regress the offset
log and replay batches. Resolution, in ``latestOffset``'s first call:

 - ``cap_state_dir`` set and its watermark file exists -> restart: resume
   capped batching from the persisted watermark (always >= the engine's
   committed offset, because only reported ends are persisted — and
   UNCAPPED runs sharing the checkpoint persist their ends too, see
   below). Streams added to the config since the file was written seed
   from the configured start id, not ZERO_ID (narrows, not closes, the
   regressed-offset window when stream sets change on a live checkpoint —
   changing the stream set still calls for a fresh checkpoint+cap dir).
 - ``cap_state_dir`` set, file absent -> fresh query (the state dir must
   co-live with the checkpoint so file-absent <=> checkpoint-fresh; the
   watch pipeline wires this automatically): seed from the configured
   start id and cap from the very first batch.
 - no ``cap_state_dir`` -> no safe seed exists: the first batch is
   uncapped (the stream's own monotonic last-generated-id), capped from
   the second on. Never a regressed offset, never a duplicate.

Updates are max-merged per stream, so the watermark is monotonic by
construction — and the merge runs whenever ``cap_state_dir`` is set, cap
or no cap. That keeps the file fresh across UNCAPPED runs on the same
checkpoint (an availableNow run advances the committed offsets; if it
skipped the watermark file, a later capped run would seed from the stale
file and report an end BEHIND the committed offset — a regressed offset
the engine would commit, duplicating the gap).

Trigger.AvailableNow is not a drain here: Spark 4.1.2's Python data
source API has no ``SupportsTriggerAvailableNow``, so the engine falls
back to a single batch (Trigger.Once), whose end is one latestOffset
call. A capped answer would truncate that batch, so such runs leave the
cap unset but KEEP ``cap_state_dir`` (the watch pipeline wires both). If
the checkpoint holds an uncommitted batch, the run replays only that
batch and stops; a further run reads what arrived after it.

The ``redis`` client library is not installed in this container: the
connection factory is import-gated and the planner/reader logic takes any
client object exposing ``xinfo_stream`` / ``xrange``, so unit tests drive
it with a fake. Row schema = the watch pipeline's envelope rows —
ENVELOPE_ROW_SCHEMA below is the canonical definition; streaming/pipeline.py
imports it for the file-stream path so the two can never diverge.
"""

from __future__ import annotations

import importlib
import json
import warnings
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Iterable, Iterator, Sequence, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

ENVELOPE_ROW_SCHEMA = "offset string, stream string, fields map<string,string>"

ZERO_ID = "0-0"

# Commands per pipelined round trip on the XADD/XACK/XDEL paths.
PIPELINE_CHUNK = 1000

# Field that stamps a target-stream entry with the micro-batch that XADDed
# it: the writer sets it, scrub_batch deletes by it.
_BATCH_FIELD = "batch"


def _record_id_tuple(record_id: str) -> Tuple[int, int]:
    """'millis-seq' -> (millis, seq) for ordering comparisons."""
    ms, _, seq = record_id.partition("-")
    return int(ms), int(seq or 0)


def _is_missing_stream(e: Exception) -> bool:
    """True iff the error means the stream KEY does not exist — gated on
    exception TYPE and message (ADVICE r2): only a server-side
    ``redis.exceptions.ResponseError`` (or the test fake's ``KeyError``)
    whose message says 'no such key'/'no such stream' qualifies. A
    substring-only check misclassified unix-socket connection failures
    ("Error 2 connecting to ...: No such file or directory") as a missing
    stream, mapping them to ZERO_ID and committing a regressed offset —
    connection resets, timeouts, and auth errors must propagate."""
    msg = str(e).lower()
    if "no such key" not in msg and "no such stream" not in msg:
        return False
    if isinstance(e, KeyError):  # the test fake
        return True
    try:
        import redis  # type: ignore
    except ImportError:
        return False
    return isinstance(e, redis.exceptions.ResponseError)


def make_client(options: dict[str, str]) -> Any:
    """Build the Redis client from DSv2 options. ``client_factory`` (a
    ``module:function`` path) overrides the default for tests/alt clients;
    otherwise requires the public ``redis`` package."""
    factory_path = options.get("client_factory")
    if factory_path:
        mod, _, fn = factory_path.partition(":")
        return getattr(importlib.import_module(mod), fn)(options)
    try:
        import redis  # type: ignore
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "the 'redis' package is not installed in this environment; "
            "pass .option('client_factory', 'module:function') or install redis"
        ) from e
    return redis.Redis(
        host=options.get("host", "localhost"),
        port=int(options.get("port", "6379")),
        db=int(options.get("db", "0")),
        decode_responses=True,
    )


def _close(client: Any) -> None:
    # Fake clients without close() are fine.
    getattr(client, "close", lambda: None)()


@contextmanager
def connect(options: dict[str, str]) -> Iterator[Any]:
    """A client for the block, closed on exit: a long-lived process that
    drops clients unclosed keeps their sockets until GC."""
    client = make_client(options)
    try:
        yield client
    finally:
        _close(client)


def ensure_group(client: Any, stream: str, group: str, start_id: str = ZERO_ID) -> None:
    """XGROUP CREATE at 0-0 with mkstream, tolerating BUSYGROUP — the
    reference's group bootstrap exactly (RedisSource.java:72-80: creates
    the group at zero, swallows 'already exists'). Gives the rebuild PEL
    interop with other group consumers on the same streams."""
    try:
        client.xgroup_create(stream, group, id=start_id, mkstream=True)
    except Exception as e:
        if "busygroup" not in str(e).lower():
            raise


@dataclass
class StreamRange(InputPartition):
    """One (stream, exclusive-start, inclusive-end] id range = one Spark
    task. Executors read independently — no driver data path."""

    stream: str
    start_id: str  # exclusive
    end_id: str  # inclusive


class RedisStreamReader(DataSourceStreamReader):
    """Offset log: JSON {stream: last_consumed_record_id}."""

    def __init__(self, schema: StructType, options: dict[str, str]) -> None:
        self.options = dict(options)
        streams = options.get("streams", "")
        self.streams: Sequence[str] = [s for s in streams.split(",") if s]
        if not self.streams:
            raise ValueError("redis_stream source requires .option('streams', 'a,b,...')")
        self.start = options.get("start", ZERO_ID)
        # The reference's poll batch cap (buffers.source.size,
        # config.yaml:13-15 -> RedisSource.java:85-87): at most this many
        # entries per stream admitted per micro-batch. 0 = unbounded.
        self.max_entries_per_batch = int(options.get("max_entries_per_batch", "0"))
        self.cap_state_dir = options.get("cap_state_dir")
        # Watermark = max end ever reported, per stream. None until the
        # first latestOffset call resolves a safe seed (module docstring).
        self._watermark: dict[str, str] | None = None
        self._regress_warned: set[str] = set()
        self._client: Any = None

    def _c(self) -> Any:
        if self._client is None:
            self._client = make_client(self.options)
        return self._client

    def initialOffset(self) -> dict:
        return {s: self.start for s in self.streams}

    # --- admission-control watermark ---------------------------------

    def _watermark_path(self) -> "Path":
        from pathlib import Path

        return Path(self.cap_state_dir) / "cap_watermark.json"

    def _seed_watermark(self) -> dict[str, str] | None:
        """Safe seed for the first latestOffset call of this process; None
        means no safe seed exists -> the first batch runs uncapped."""
        if not self.cap_state_dir:
            return None
        # Every configured stream starts at the configured start id; the
        # persisted file (when present — a restart) overrides per stream.
        # Streams ADDED to the config since the file was written thus seed
        # from the configured start, not ZERO_ID (ADVICE r7: a new stream
        # that already committed offsets under a different run still needs
        # a fresh checkpoint+cap dir, but the configured start is the
        # tightest safe default the reader can know).
        seeded = {s: self.start for s in self.streams}
        p = self._watermark_path()
        if p.exists():
            seeded.update(json.loads(p.read_text()))  # restart: resume capped
        return seeded

    def _merge_watermark(self, end: dict[str, str]) -> None:
        """Max-merge per stream: the watermark never regresses, whatever
        order the engine interleaves latestOffset/commit calls in."""
        if self._watermark is None and self.cap_state_dir:
            # commit() can land on an instance whose latestOffset never ran
            # (engine restart edge); merge on top of the file, never over it.
            self._watermark = self._seed_watermark()
        base = self._watermark or {}
        merged = dict(base)
        for s, rid in end.items():
            prev = base.get(s)
            if prev is None or _record_id_tuple(rid) > _record_id_tuple(prev):
                merged[s] = rid
        self._watermark = merged
        if self.cap_state_dir:
            p = self._watermark_path()
            p.parent.mkdir(parents=True, exist_ok=True)
            tmp = p.with_suffix(".tmp")
            tmp.write_text(json.dumps(merged))
            tmp.replace(p)  # atomic: a crash never leaves a torn file

    def _capped_end(self, stream: str, prev_end: str, actual_end: str) -> str:
        """Advance prev_end by at most max_entries_per_batch entries: ONE
        XRANGE COUNT round trip. If fewer than cap entries remain, admit
        everything (actual_end); otherwise the cap-th entry's id becomes the
        batch end — an existing id, so partitions()/read() ranges stay
        exact. Payload cost is bounded by the cap itself, same as the
        reference's poll which also fetches the batch it admits."""
        cap = self.max_entries_per_batch
        entries = self._c().xrange(stream, f"({prev_end}", actual_end, count=cap)
        if len(entries) < cap:
            return actual_end
        return entries[-1][0]

    def latestOffset(self) -> dict:
        """Driver-side poll: XINFO STREAM last-generated-id per stream, plus
        one XRANGE COUNT probe per stream when the batch-size cap is set —
        O(|streams|) round trips per micro-batch.

        Only a *missing stream* maps to ZERO_ID (stream not created yet —
        partitions() treats an end <= start as empty, so this never rewinds
        a consumed stream). Any other error must propagate: the reported
        end is persisted to the offset log, so swallowing a transient
        connection error as ZERO_ID would commit a regressed offset and the
        next healthy batch would re-read the entire stream."""
        capping = self.max_entries_per_batch > 0
        # Seed whenever a state dir exists, cap or no cap: an uncapped run
        # sharing the checkpoint must merge ON TOP of the file's content
        # (and keep it fresh), not clobber or ignore it (ADVICE r7).
        if self._watermark is None and (capping or self.cap_state_dir):
            self._watermark = self._seed_watermark()
        out = {}
        for s in self.streams:
            try:
                info = self._c().xinfo_stream(s)
                end = info.get("last-generated-id", ZERO_ID)
                wm = (self._watermark or {}).get(s)
                if wm is not None and _record_id_tuple(wm) > _record_id_tuple(end):
                    # Stream recreated with restarted ids (DEL + re-XADD):
                    # its raw end sits BELOW what we already reported.
                    # Hold the watermark — reporting the regressed end
                    # would re-open an already-committed range. Safe for
                    # auto-generated ms-clock ids; a producer re-adding
                    # explicit ids below the old watermark loses those
                    # entries, so say so once per stream (ADVICE r8) —
                    # operators can then tell "recreated stream being
                    # held back" apart from "no new data".
                    if s not in self._regress_warned:
                        self._regress_warned.add(s)
                        warnings.warn(
                            f"redis stream {s!r}: end id {end} regressed below the "
                            f"committed watermark {wm}; holding the watermark. Entries "
                            "re-added with explicit ids at or below it will not be "
                            "delivered (recreate the checkpoint/cap state to re-read).",
                            stacklevel=2,
                        )
                    end = wm
                if capping and self._watermark is not None:
                    prev = self._watermark.get(s, ZERO_ID)
                    if _record_id_tuple(end) > _record_id_tuple(prev):
                        end = self._capped_end(s, prev, end)
                    else:
                        end = prev  # nothing new: re-report the watermark
                out[s] = end
            except Exception as e:
                if not _is_missing_stream(e):
                    raise
                # Stream missing: not created yet, OR a consumed stream
                # DELed / lost mid-run. Report the highest end we ever
                # reported for it (the watermark; >= the committed
                # offset) — reporting ZERO_ID would be persisted to the
                # offset log and a recreated stream would replay every
                # already-processed entry through the regressed range.
                # With no watermark state the stream genuinely was never
                # seen: ZERO_ID, and partitions() treats end <= start as
                # empty.
                wm = (self._watermark or {}).get(s)
                out[s] = wm if wm is not None else ZERO_ID
        self._merge_watermark(out)
        return out

    def partitions(self, start: dict, end: dict) -> Sequence[StreamRange]:
        """One task per stream with new entries."""
        parts: list[StreamRange] = []
        for s in self.streams:
            s_start, s_end = start.get(s, ZERO_ID), end.get(s, ZERO_ID)
            if _record_id_tuple(s_end) > _record_id_tuple(s_start):
                parts.append(StreamRange(stream=s, start_id=s_start, end_id=s_end))
        # Spark requires >=1 partition; an empty range reads nothing.
        return parts or [StreamRange(stream=self.streams[0], start_id=ZERO_ID, end_id=ZERO_ID)]

    def read(self, partition: StreamRange) -> Iterator[Tuple[str, str, dict]]:
        if partition.start_id == partition.end_id:
            return
        with connect(self.options) as client:
            # '(' prefix = exclusive start (the offset already consumed).
            entries = client.xrange(partition.stream, f"({partition.start_id}", partition.end_id)
            for record_id, fields in entries:
                yield record_id, partition.stream, dict(fields)

    def commit(self, end: dict) -> None:
        """Offsets live in the checkpoint; nothing to do server-side (XACK
        parity is handled by the watch pipeline's ack ledger). Max-merge the
        committed end into the watermark: with no cap_state_dir this is what
        restores capped batching after a planner restart (one uncapped
        batch, then capped again)."""
        self._merge_watermark(end)

    def stop(self) -> None:
        """Close the client the offset probes cached. Spark calls this when
        the source runner's loop ends; on a normal query stop, Spark 4.1.2
        ends the runner process instead, which closes the connection."""
        if self._client is not None:
            _close(self._client)
            self._client = None


class RedisBatchWriter(DataSourceWriter):
    """``df.write.format("redis_stream")``: XADD one entry per row to the
    stream in its ``target_stream`` column, with field ``ids`` set to its
    ``ids`` column (the packed JSON array, WatchStream.java:285-293 shape).
    With the ``batch_id`` option set, every entry also carries
    ``batch=<batch_id>``, which ``scrub_batch`` deletes by. XADD is an
    append: a retried micro-batch is kept from duplicating its entries by
    the watch pipeline's manifest and scrub, not by this writer."""

    def __init__(self, schema: StructType, options: dict[str, str]) -> None:
        self.options = dict(options)
        self.stamp = {_BATCH_FIELD: options["batch_id"]} if "batch_id" in options else {}
        names = [f.name for f in schema.fields]
        self.stream_i, self.ids_i = names.index("target_stream"), names.index("ids")

    def write(self, rows: Iterator[Any]) -> WriterCommitMessage:
        # Pipeline the XADDs: one network round trip per PIPELINE_CHUNK
        # entries instead of per entry (WatchStream.java:291-293 batches
        # the same way through Reactor).
        with connect(self.options) as client:
            pipe = client.pipeline()
            for n, row in enumerate(rows, start=1):
                pipe.xadd(row[self.stream_i], {"ids": row[self.ids_i], **self.stamp})
                if n % PIPELINE_CHUNK == 0:
                    pipe.execute()
            pipe.execute()
        return WriterCommitMessage()


class RedisStreamDataSource(DataSource):
    """``spark.readStream.format("redis_stream")`` and
    ``df.write.format("redis_stream")`` after
    ``spark.dataSource.register(RedisStreamDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "redis_stream"

    def schema(self) -> str:
        return ENVELOPE_ROW_SCHEMA

    def streamReader(self, schema: StructType) -> RedisStreamReader:
        return RedisStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> RedisBatchWriter:
        return RedisBatchWriter(schema, self.options)


def ack_entries(
    options: dict[str, str], group: str | None, delete: bool, rows: Iterable[Any]
) -> None:
    """The watch pipeline's source ack for a batch's ``(stream, offset)``
    rows: XACK against ``group`` (WatchStream.java:196-205), then XDEL
    under ``delete`` (WatchStream.java:207-220). Ids are grouped per
    stream and sent PIPELINE_CHUNK per command, so round trips are
    O(streams · chunks), never O(rows). Both commands are idempotent, so
    a replay re-acks for free. No rows open no client."""
    by_stream: dict[str, list[str]] = {}
    for row in rows:
        by_stream.setdefault(row["stream"], []).append(row["offset"])
    if not by_stream:
        return
    with connect(options) as client:
        for stream, ids in by_stream.items():
            for i in range(0, len(ids), PIPELINE_CHUNK):
                chunk = ids[i : i + PIPELINE_CHUNK]
                if group:
                    client.xack(stream, group, *chunk)
                if delete:
                    client.xdel(stream, *chunk)


def scrub_batch(options: dict[str, str], streams: Iterable[str], batch_id: int) -> None:
    """Delete the entries a crashed attempt of micro-batch ``batch_id``
    XADDed to ``streams`` (they carry ``batch=<batch_id>``). A stream that
    does not exist has nothing to scrub. Each stream is scanned whole, so
    this is a crash-recovery cost: the pipeline runs it only on a replay
    of a batch that started and never finished."""
    with connect(options) as client:
        for stream in streams:
            try:
                entries = client.xrange(stream)
            except Exception as e:
                if not _is_missing_stream(e):
                    raise
                continue
            stale = [rid for rid, f in entries if f.get(_BATCH_FIELD) == str(batch_id)]
            if stale:
                client.xdel(stream, *stale)


def seed_streams(client: Any, streams: Iterable[str]) -> None:
    """XADD the reference's startup seed entry, ``{"ids": "[]"}``, to each
    target stream (WatchStream.java:262-265)."""
    for stream in streams:
        client.xadd(stream, {"ids": "[]"})
