"""File-backed fake Redis Streams client for the redis_stream data source,
used by the tests and by bench.py's watch probes (pass
``client_factory="cdc_dedupe_spark.sources.fake_redis:make_client"``).
State lives in a directory (one JSONL file per stream) so driver and
executor processes see the same streams without a server.

Entry ids are synthesized as "1-<line number>" — monotonic per stream,
which is all the source's offset logic relies on.

Network accounting: every client call that would be a Redis round trip
appends one line to ``_rt.log`` (a ``pipeline()`` counts ONE round trip
per ``execute()``, like the real protocol) — tests assert the ack/write
paths batch instead of chatting per record.
"""

from __future__ import annotations

import json
import os
from pathlib import Path


class FakePipeline:
    """Buffers commands; ``execute()`` applies them through the parent's
    unlogged internals and counts as a single round trip."""

    def __init__(self, parent: "FakeRedis") -> None:
        self._parent = parent
        self._ops: list[tuple] = []

    def xadd(self, stream: str, fields: dict) -> None:
        self._ops.append(("_xadd_raw", (stream, fields)))

    def xdel(self, stream: str, *record_ids: str) -> None:
        self._ops.append(("_xdel_raw", (stream, *record_ids)))

    def xack(self, stream: str, group: str, *record_ids: str) -> None:
        self._ops.append(("_xack_raw", (stream, group, *record_ids)))

    def execute(self) -> list:
        if not self._ops:
            return []
        self._parent._rt("pipeline[%d]" % len(self._ops))
        out = [getattr(self._parent, op)(*args) for op, args in self._ops]
        self._ops = []
        return out


class FakeRedis:
    def __init__(self, root: str) -> None:
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _path(self, stream: str) -> Path:
        return self.root / f"{stream}.jsonl"

    def _lines(self, stream: str) -> list[str]:
        p = self._path(stream)
        return p.read_text().splitlines() if p.exists() else []

    def _entries(self, stream: str) -> list[tuple[str, dict]]:
        out = []
        for i, line in enumerate(self._lines(stream), start=1):
            if line and line != "\x00":  # skip xdel tombstones
                out.append((f"1-{i}", json.loads(line)))
        return out

    def _rt(self, op: str) -> None:
        with open(self.root / "_rt.log", "a") as f:
            f.write(op + "\n")

    def round_trips(self) -> list[str]:
        p = self.root / "_rt.log"
        return p.read_text().splitlines() if p.exists() else []

    # --- the client surface the source uses ---

    def pipeline(self) -> FakePipeline:
        return FakePipeline(self)

    def xadd(self, stream: str, fields: dict) -> str:
        self._rt("xadd")
        return self._xadd_raw(stream, fields)

    def _xadd_raw(self, stream: str, fields: dict) -> str:
        with open(self._path(stream), "a") as f:
            f.write(json.dumps(dict(fields)) + os.linesep)
        return f"1-{len(self._lines(stream))}"

    def xdel(self, stream: str, *record_ids: str) -> int:
        self._rt("xdel")
        return self._xdel_raw(stream, *record_ids)

    def _xdel_raw(self, stream: str, *record_ids: str) -> int:
        """Delete entries by id. Line positions (and so the synthetic ids of
        the REMAINING entries) are preserved by tombstoning."""
        ids = set(record_ids)
        p = self._path(stream)
        if not p.exists():
            return 0
        lines = p.read_text().splitlines()
        n = 0
        for i in range(len(lines)):
            if f"1-{i + 1}" in ids and lines[i] != "\x00":
                lines[i] = "\x00"
                n += 1
        p.write_text("\n".join(lines) + os.linesep)
        return n

    def xrange(
        self, stream: str, start: str = "-", end: str = "+", count: int | None = None
    ) -> list[tuple[str, dict]]:
        self._rt("xrange")

        def key(record_id: str) -> tuple[int, int]:
            ms, _, seq = record_id.partition("-")
            return int(ms), int(seq or 0)

        exclusive = start.startswith("(")
        lo = key(start.lstrip("(")) if start not in ("-",) else (0, 0)
        hi = key(end) if end != "+" else (1 << 62, 0)
        out = []
        for rid, fields in self._entries(stream):
            k = key(rid)
            if (k > lo if exclusive else k >= lo) and k <= hi:
                out.append((rid, fields))
        return out[:count] if count is not None else out

    # --- consumer-group surface (XGROUP/XACK parity) ---

    def _group_path(self, stream: str, group: str) -> Path:
        return self.root / f"{stream}@@{group}.group"

    def xgroup_create(
        self, stream: str, group: str, id: str = "0-0", mkstream: bool = False
    ) -> bool:
        self._rt("xgroup_create")
        p = self._group_path(stream, group)
        if p.exists():
            raise Exception("BUSYGROUP Consumer Group name already exists")
        p.write_text(id + "\n")
        return True

    def _pel_path(self, stream: str, group: str) -> Path:
        return self.root / f"{stream}@@{group}.pel"

    @staticmethod
    def _key(record_id: str) -> tuple[int, int]:
        ms, _, seq = record_id.partition("-")
        return int(ms), int(seq or 0)

    def xreadgroup(
        self, group: str, consumer: str, streams: dict, count: int | None = None
    ) -> list:
        """Minimal XREADGROUP '>': deliver entries past the group's
        last-delivered id and record them in the group's PEL (pending
        entries list) under the reading consumer. Like real Redis, a later
        XDEL of the entry leaves the PEL reference dangling — which is the
        interop edge the acknowledge=delete e2e exercises."""
        self._rt("xreadgroup")
        out = []
        for stream, _start in streams.items():
            gp = self._group_path(stream, group)
            last = gp.read_text().splitlines()[0] if gp.exists() else "0-0"
            entries = [
                (rid, f) for rid, f in self._entries(stream) if self._key(rid) > self._key(last)
            ]
            if count is not None:
                entries = entries[:count]
            if entries:
                gp.write_text(entries[-1][0] + "\n")
                with open(self._pel_path(stream, group), "a") as f:
                    for rid, _ in entries:
                        f.write(json.dumps({"id": rid, "consumer": consumer}) + "\n")
            out.append((stream, entries))
        return out

    def pending(self, stream: str, group: str) -> list[str]:
        """PEL ids not yet XACKed by the group (test-facing, like acked())."""
        p = self._pel_path(stream, group)
        if not p.exists():
            return []
        pel = [json.loads(line)["id"] for line in p.read_text().splitlines()]
        done = set(self.acked(stream, group))
        return [rid for rid in pel if rid not in done]

    def xack(self, stream: str, group: str, *record_ids: str) -> int:
        self._rt("xack")
        return self._xack_raw(stream, group, *record_ids)

    def _xack_raw(self, stream: str, group: str, *record_ids: str) -> int:
        with open(self.root / f"{stream}@@{group}.acked", "a") as f:
            for rid in record_ids:
                f.write(rid + "\n")
        return len(record_ids)

    def acked(self, stream: str, group: str) -> list[str]:
        p = self.root / f"{stream}@@{group}.acked"
        return p.read_text().splitlines() if p.exists() else []

    def groups(self, stream: str) -> list[str]:
        return sorted(
            p.name.split("@@")[1].removesuffix(".group")
            for p in self.root.glob(f"{stream}@@*.group")
        )


def make_client(options: dict) -> FakeRedis:
    return FakeRedis(options["fake_dir"])


def make_counting_client(options: dict) -> FakeRedis:
    """Client that appends ``open:<pid>`` when it is made and
    ``close:<pid>`` when it is closed to ``<fake_dir>/_clients.log``, from
    whichever process holds it — for checking that every client opened is
    closed."""
    client = make_client(options)
    log = client.root / "_clients.log"

    def note(event: str) -> None:
        with open(log, "a") as f:
            f.write(f"{event}:{os.getpid()}\n")

    note("open")
    client.close = lambda: note("close")  # type: ignore[attr-defined]
    return client

