"""Redis Streams I/O for the watch pipeline — the only module that sends
Redis commands. It replaces the reference's Lettuce consumer/producer
(RedisSource.java:72-93 XREADGROUP poll loop; WatchStream.java:291-293
XADD; WatchStream.java:196-220 XACK/XDEL) with:

 - a streaming source (``spark.readStream.format("redis_stream")``);
 - the functions the pipeline's driver calls: ``xadd_entries`` (the
   pipelined XADD of a batch's packed rows), ``ack_entries`` (XACK/XDEL
   of a batch's ack set), ``scrub_batch`` (crash-replay cleanup of
   target streams), and, on the startup client from ``connect``,
   ``ensure_group`` (consumer-group bootstrap) and ``seed_streams`` (the
   startup seed entries).

``xadd_entries``, ``ack_entries`` and ``scrub_batch`` open their own
client and close it when done.

Spark-first mapping of the reference's consumer-group model:

 - the reference tracks per-group delivery state inside Redis (PEL +
   last-delivered-id); here the *checkpoint* owns offsets. The source is a
   ``SimpleDataSourceStreamReader``: the engine's offset log hands every
   ``read(start)`` the last consumed id per stream, and commits the
   batch's end after the sink runs. Output is effectively-once only
   because the pipeline's batch writes are batchId-idempotent
   (streaming/pipeline.py); XADD itself is an append.
 - the driver's source runner reads the batch and ships it to the JVM as
   Arrow, in place of one Python worker task per stream; the reference
   too reads with one poller per process (RedisSource.java:72-93). The
   admission cap bounds that data, as it bounds the batch's sink rows and
   ack set that the pipeline's driver holds.

Admission (the reference's poll batch size, config.yaml:13-15):
``read(start)`` sends one ``XRANGE (start[s] + COUNT
max_entries_per_batch`` per stream (no COUNT when the cap is 0). A
stream's end is the last id read, or ``start[s]`` when nothing was read,
so a batch ends at the cap-th id and the next read starts there. A
stream missing from ``start`` (added to the config since the checkpoint
was written) starts at the ``start`` option. Only an empty XRANGE means
"nothing new": any other error propagates, so a connection error can
never commit a regressed offset, and a stream that is DELed or recreated
with lower ids holds at its committed id. A batch the checkpoint logged
but never committed is replayed after a restart through
``readBetweenOffsets``, which re-reads exactly its ``(start, end]``.

Trigger.AvailableNow is not a drain here: Spark 4.1.2's Python data
source API has no ``SupportsTriggerAvailableNow``, so the engine falls
back to a single batch (Trigger.Once), whose end is one ``read(start)``.
A capped read would truncate that batch, so such runs leave the cap
unset. If the checkpoint holds an uncommitted batch, the run replays only
that batch and stops; a further run reads what arrived after it.

The ``redis`` client library is optional: the connection factory is
import-gated and the reader takes any client object exposing ``xrange``,
so unit tests drive it with a fake. Row schema = the watch pipeline's
envelope rows — ENVELOPE_ROW_SCHEMA below is the canonical definition;
streaming/pipeline.py imports it for the file-stream path so the two can
never diverge.
"""

from __future__ import annotations

import importlib
from contextlib import contextmanager
from typing import Any, Iterable, Iterator, Sequence, Tuple

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

ENVELOPE_ROW_SCHEMA = "offset string, stream string, fields map<string,string>"
_Row = Tuple[str, str, dict]  # one ENVELOPE_ROW_SCHEMA row

ZERO_ID = "0-0"

# Commands per pipelined round trip on the XADD/XACK/XDEL paths.
PIPELINE_CHUNK = 1000

# Field that stamps a target-stream entry with the micro-batch that XADDed
# it: xadd_entries sets it, scrub_batch deletes by it.
_BATCH_FIELD = "batch"


def _is_missing_stream(e: Exception) -> bool:
    """True iff the error means the stream KEY does not exist — gated on
    exception TYPE and message: only a server-side
    ``redis.exceptions.ResponseError`` (or the test fake's ``KeyError``)
    whose message says 'no such key'/'no such stream' qualifies. A
    substring-only check would misclassify unix-socket connection failures
    ("Error 2 connecting to ...: No such file or directory") as a missing
    stream and hide them as an empty read — connection resets, timeouts,
    and auth errors must propagate."""
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


def _xrange(
    client: Any, stream: str, lo: str = "-", hi: str = "+", count: int | None = None
) -> list:
    """XRANGE ``stream`` from ``lo`` to ``hi``; a stream that does not
    exist has no entries. Every other error propagates."""
    try:
        return client.xrange(stream, lo, hi, count=count)
    except Exception as e:
        if not _is_missing_stream(e):
            raise
        return []


class RedisStreamReader(SimpleDataSourceStreamReader):
    """Offset log: JSON {stream: last_consumed_record_id}. Each read opens
    its own client and closes it (module docstring: admission, replay)."""

    def __init__(self, options: dict[str, str]) -> None:
        self.options = dict(options)
        self.streams = [s for s in options.get("streams", "").split(",") if s]
        if not self.streams:
            raise ValueError("redis_stream source requires .option('streams', 'a,b,...')")
        self.start = options.get("start", ZERO_ID)
        # The reference's poll batch cap (buffers.source.size,
        # config.yaml:13-15 -> RedisSource.java:85-87): at most this many
        # entries per stream admitted per micro-batch. 0 = unbounded.
        self.max_entries_per_batch = int(options.get("max_entries_per_batch", "0"))

    def initialOffset(self) -> dict:
        return {s: self.start for s in self.streams}

    def read(self, start: dict) -> Tuple[Iterator[_Row], dict]:
        """The entries after ``start``, at most the cap per stream, and the
        end the next read starts from. The rows come back as a list
        iterator: Spark copies a cached batch's iterator, and a generator
        cannot be copied."""
        rows: list[_Row] = []
        end = {}
        with connect(self.options) as client:
            for s in self.streams:
                after = start.get(s, self.start)
                # '(' prefix = exclusive start (the id already consumed).
                entries = _xrange(client, s, f"({after}", count=self.max_entries_per_batch or None)
                rows += [(rid, s, dict(fields)) for rid, fields in entries]
                end[s] = entries[-1][0] if entries else after
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[_Row]:
        """Re-read exactly ``(start, end]``: the replay of a batch the
        offset log holds but the commit log does not."""
        rows: list[_Row] = []
        with connect(self.options) as client:
            for s, last in end.items():
                after = start.get(s, self.start)
                if last != after:
                    rows += [(rid, s, dict(f)) for rid, f in _xrange(client, s, f"({after}", last)]
        return iter(rows)


class RedisStreamDataSource(DataSource):
    """``spark.readStream.format("redis_stream")`` after
    ``spark.dataSource.register(RedisStreamDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "redis_stream"

    def schema(self) -> str:
        return ENVELOPE_ROW_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> RedisStreamReader:
        return RedisStreamReader(self.options)


def xadd_entries(
    options: dict[str, str], entries: Sequence[tuple[str, str]], batch_id: int
) -> None:
    """XADD one entry per ``(stream, ids)`` pair, with field ``ids`` (the
    packed JSON array, WatchStream.java:285-293 shape) and the stamp
    ``batch=<batch_id>`` that ``scrub_batch`` deletes by. The XADDs are
    pipelined, one round trip per PIPELINE_CHUNK entries instead of per
    entry (WatchStream.java:291-293 batches the same way through
    Reactor). XADD is an append: a retried micro-batch is kept from
    duplicating its entries by the watch pipeline's manifest and scrub,
    not here. No entries open no client."""
    if not entries:
        return
    stamp = {_BATCH_FIELD: str(batch_id)}
    with connect(options) as client:
        pipe = client.pipeline()
        for n, (stream, ids) in enumerate(entries, start=1):
            pipe.xadd(stream, {"ids": ids, **stamp})
            if n % PIPELINE_CHUNK == 0:
                pipe.execute()
        pipe.execute()


def ack_entries(
    options: dict[str, str], group: str | None, delete: bool, pairs: Iterable[tuple[str, str]]
) -> None:
    """The watch pipeline's source ack for a batch's ``(stream, offset)``
    pairs: XACK against ``group`` (WatchStream.java:196-205), then XDEL
    under ``delete`` (WatchStream.java:207-220). Ids are grouped per
    stream and sent PIPELINE_CHUNK per command, so round trips are
    O(streams · chunks), never O(pairs). Both commands are idempotent, so
    a replay re-acks for free. No pairs open no client."""
    by_stream: dict[str, list[str]] = {}
    for stream, offset in pairs:
        by_stream.setdefault(stream, []).append(offset)
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
            entries = _xrange(client, stream)
            stale = [rid for rid, f in entries if f.get(_BATCH_FIELD) == str(batch_id)]
            if stale:
                client.xdel(stream, *stale)


def seed_streams(client: Any, streams: Iterable[str]) -> None:
    """XADD the reference's startup seed entry, ``{"ids": "[]"}``, to each
    target stream (WatchStream.java:262-265)."""
    for stream in streams:
        client.xadd(stream, {"ids": "[]"})
