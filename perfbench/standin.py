"""In-memory Redis Streams stand-in for the watch pipeline's
``client_factory`` option.

One server process owns every stream; the driver and every executor
worker reach it over an abstract-namespace Unix socket
(``multiprocessing.connection`` with a per-run auth key), so all of
them see one consistent store and concurrent XDELs cannot lose updates.
Each stream keeps its ids in a sorted list, so XRANGE is a bisect plus
the entries returned, XADD an append and XDEL a bisect per id: no call
costs more as the stream grows.

The server meters itself: it counts every command, and receives each
client's measured round-trip time piggybacked on that client's next
request (or on ``close``). It also hosts the open-loop generator
(``perfbench.events``) so load is appended in-process on a fixed
schedule that does not wait for the pipeline.

Run ``python3 -m perfbench.standin <socket-name> <authkey-hex>``; the
server prints ``ready`` once it accepts connections.
"""

from __future__ import annotations

import bisect
import os
import secrets
import subprocess
import sys
import threading
import time
from collections import defaultdict
from multiprocessing.connection import Client, Listener
from pathlib import Path
from typing import Any

_MAX_SEQ = (1 << 63) - 1


def parse_id(rid: str, upper: bool = False) -> tuple[int, int]:
    """'ms-seq' (or bare 'ms') -> (ms, seq); a bare upper bound covers
    every seq of its millisecond, as in Redis."""
    ms, sep, seq = rid.partition("-")
    if not sep:
        return int(ms), (_MAX_SEQ if upper else 0)
    return int(ms), int(seq)


def format_id(t: tuple[int, int]) -> str:
    return f"{t[0]}-{t[1]}"


class _Stream:
    __slots__ = ("ids", "fields", "alive", "live", "head", "last", "groups", "acked")

    def __init__(self) -> None:
        self.ids: list[tuple[int, int]] = []
        self.fields: list[dict[str, str]] = []
        self.alive: list[bool] = []
        self.live = 0
        self.head = 0  # every entry before it is deleted
        self.last = (0, 0)
        self.groups: set[str] = set()
        self.acked: set[str] = set()


class Store:
    """The command surface the redis_stream source, sink and ack path
    call, plus admin commands for the benchmark. Not thread-safe by
    itself: the server serialises calls with one lock."""

    def __init__(self) -> None:
        self.streams: dict[str, _Stream] = {}

    def _get(self, name: str) -> _Stream:
        s = self.streams.get(name)
        if s is None:
            s = self.streams[name] = _Stream()
        return s

    def _next_id(self, s: _Stream) -> tuple[int, int]:
        ms = time.time_ns() // 1_000_000
        return (ms, 0) if ms > s.last[0] else (s.last[0], s.last[1] + 1)

    def xadd(self, stream: str, fields: dict, id: str = "*") -> str:
        s = self._get(stream)
        t = self._next_id(s) if id == "*" else parse_id(id)
        if t <= s.last:
            raise ValueError("ERR The ID specified in XADD is equal or smaller than the target stream top item")
        s.ids.append(t)
        s.fields.append({str(k): str(v) for k, v in fields.items()})
        s.alive.append(True)
        s.live += 1
        s.last = t
        return format_id(t)

    def xrange(self, stream: str, min: str = "-", max: str = "+", count: int | None = None) -> list:
        s = self.streams.get(stream)
        if s is None:
            return []
        if min == "-":
            i = 0
        elif min.startswith("("):
            i = bisect.bisect_right(s.ids, parse_id(min[1:], upper=True))
        else:
            i = bisect.bisect_left(s.ids, parse_id(min))
        if max == "+":
            j = len(s.ids)
        elif max.startswith("("):
            j = bisect.bisect_left(s.ids, parse_id(max[1:]))
        else:
            j = bisect.bisect_right(s.ids, parse_id(max, upper=True))
        out = []
        for k in range(i if i > s.head else s.head, j):
            if s.alive[k]:
                out.append((format_id(s.ids[k]), dict(s.fields[k])))
                if count is not None and len(out) >= count:
                    break
        return out

    def xinfo_stream(self, stream: str) -> dict:
        s = self.streams.get(stream)
        if s is None:
            raise KeyError("no such key")
        return {"length": s.live, "last-generated-id": format_id(s.last), "groups": len(s.groups)}

    def xgroup_create(self, stream: str, group: str, id: str = "0-0", mkstream: bool = False) -> bool:
        if stream not in self.streams and not mkstream:
            raise KeyError("no such key")
        s = self._get(stream)
        if group in s.groups:
            raise RuntimeError("BUSYGROUP Consumer Group name already exists")
        s.groups.add(group)
        return True

    def xack(self, stream: str, group: str, *ids: str) -> int:
        s = self._get(stream)
        before = len(s.acked)
        s.acked.update(ids)
        return len(s.acked) - before

    def xdel(self, stream: str, *ids: str) -> int:
        s = self.streams.get(stream)
        if s is None:
            return 0
        n = 0
        for rid in ids:
            t = parse_id(rid)
            k = bisect.bisect_left(s.ids, t)
            if k < len(s.ids) and s.ids[k] == t and s.alive[k]:
                s.alive[k] = False
                s.live -= 1
                n += 1
        while s.head < len(s.ids) and not s.alive[s.head]:
            s.head += 1
        return n

    # --- admin (benchmark only) ---------------------------------------

    def dump(self, stream: str) -> dict:
        """Every entry ever added (deleted ones too), with liveness and
        the acked ids — what the oracle checks against."""
        s = self.streams.get(stream)
        if s is None:
            return {"entries": [], "alive": [], "acked": []}
        return {
            "entries": [(format_id(t), f) for t, f in zip(s.ids, s.fields)],
            "alive": list(s.alive),
            "acked": sorted(s.acked),
        }

    def last_ids(self) -> dict[str, str]:
        return {name: format_id(s.last) for name, s in self.streams.items()}


class _Server:
    COMMANDS = {"xadd", "xrange", "xinfo_stream", "xgroup_create", "xack", "xdel"}

    def __init__(self) -> None:
        self.store = Store()
        self.lock = threading.Lock()
        self.calls: dict[str, int] = defaultdict(int)
        self.client_s: dict[str, float] = defaultdict(float)
        self.stopped = threading.Event()
        self.generator = None

    def _run(self, cmd: str, args: tuple, kw: dict) -> Any:
        if cmd not in self.COMMANDS:
            raise ValueError(f"unknown command {cmd!r}")
        self.calls[cmd] += 1
        return getattr(self.store, cmd)(*args, **kw)

    def stats(self) -> dict:
        return {
            "calls": dict(self.calls),
            "client_s": dict(self.client_s),
        }

    def handle(self, msg: tuple) -> Any:
        kind, body, prev_cmd, prev_rtt = msg
        with self.lock:
            if prev_cmd is not None:
                self.client_s[prev_cmd] += prev_rtt
            if kind == "call":
                cmd, args, kw = body
                return self._run(cmd, args, kw)
            if kind == "pipe":
                return [self._run(cmd, args, kw) for cmd, args, kw in body]
            if kind == "close":
                return None
        # Admin commands: the generator takes the lock per tick itself.
        if kind == "admin":
            return self.admin(*body)
        raise ValueError(f"unknown message kind {kind!r}")

    def admin(self, op: str, *args: Any) -> Any:
        from . import events

        if op == "stats":
            with self.lock:
                return self.stats()
        if op == "dump":
            with self.lock:
                return {s: self.store.dump(s) for s in args[0]}
        if op == "last_ids":
            with self.lock:
                return self.store.last_ids()
        if op == "preload":
            spec, n_per_stream = args
            with self.lock:
                return events.preload(self.store, spec, n_per_stream)
        if op == "gen_start":
            spec, rate, tick_s = args
            self.generator = events.OpenLoopGenerator(self.store, self.lock, spec, rate, tick_s)
            self.generator.start()
            return True
        if op == "gen_stop":
            return self.generator.stop()
        if op == "shutdown":
            self.stopped.set()
            return True
        raise ValueError(f"unknown admin op {op!r}")

    def serve_conn(self, conn) -> None:
        with conn:
            while True:
                try:
                    msg = conn.recv()
                except (EOFError, OSError):
                    return
                try:
                    reply = ("ok", self.handle(msg))
                except Exception as e:  # returned to the caller, which re-raises
                    reply = ("err", e)
                conn.send(reply)
                if msg[0] == "close":
                    return


def serve(address: str, authkey: bytes) -> None:
    server = _Server()
    listener = Listener(address, family="AF_UNIX", authkey=authkey)

    def accept_loop() -> None:
        while not server.stopped.is_set():
            try:
                conn = listener.accept()
            except OSError:
                return
            threading.Thread(target=server.serve_conn, args=(conn,), daemon=True).start()

    threading.Thread(target=accept_loop, daemon=True).start()
    print("ready", flush=True)
    server.stopped.wait()
    listener.close()


class _Pipeline:
    def __init__(self, client: "StandinClient") -> None:
        self._client = client
        self._ops: list[tuple] = []

    def __getattr__(self, cmd: str):
        if cmd not in _Server.COMMANDS:
            raise AttributeError(cmd)
        return lambda *args, **kw: self._ops.append((cmd, args, kw))

    def execute(self) -> list:
        if not self._ops:
            return []
        ops, self._ops = self._ops, []
        return self._client._send("pipe", ops, "pipeline")


class StandinClient:
    """redis-py-shaped client: ``xadd``/``xrange``/``xinfo_stream``/
    ``xgroup_create``/``xack``/``xdel``/``pipeline``/``close``."""

    def __init__(self, address: str, authkey: bytes) -> None:
        self._conn = Client(address, family="AF_UNIX", authkey=authkey)
        self._prev: tuple[str | None, float] = (None, 0.0)

    def _send(self, kind: str, body: Any, label: str) -> Any:
        t0 = time.perf_counter()
        self._conn.send((kind, body, *self._prev))
        status, value = self._conn.recv()
        self._prev = (label, time.perf_counter() - t0)
        if status == "err":
            raise value
        return value

    def __getattr__(self, cmd: str):
        if cmd not in _Server.COMMANDS:
            raise AttributeError(cmd)
        return lambda *args, **kw: self._send("call", (cmd, args, kw), cmd)

    def pipeline(self) -> _Pipeline:
        return _Pipeline(self)

    def admin(self, op: str, *args: Any) -> Any:
        return self._send("admin", (op, *args), None)

    def close(self) -> None:
        if self._conn is None:
            return
        try:
            self._send("close", None, None)
        except (EOFError, OSError):
            pass
        self._conn.close()
        self._conn = None


def make_client(options: dict[str, str]) -> StandinClient:
    """``client_factory`` entry point: ``perfbench.standin:make_client``."""
    return StandinClient(options["standin_address"], bytes.fromhex(options["standin_authkey"]))


class StandinProcess:
    """Starts the server as a child process; ``close`` stops it and waits.
    ``options`` are the reader/sink options that route the pipeline's
    Redis calls to it."""

    def __init__(self, root: Path) -> None:
        name = f"perfbench-{os.getpid()}-{secrets.token_hex(4)}"
        self.address = "\0" + name  # abstract namespace: no socket file
        authkey = secrets.token_hex(16)
        self.options = {
            "client_factory": "perfbench.standin:make_client",
            "standin_address": self.address,
            "standin_authkey": authkey,
        }
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.standin", name, authkey],
            cwd=str(root),
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.proc.stdout.readline().strip()
        if line != "ready":
            self.close()
            raise RuntimeError(f"redis stand-in failed to start (got {line!r})")
        self.admin_client = make_client(self.options)

    def admin(self, op: str, *args: Any) -> Any:
        return self.admin_client.admin(op, *args)

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.admin_client.admin("shutdown")
                self.admin_client.close()
            except Exception:
                self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        if self.proc.stdout is not None:
            self.proc.stdout.close()


if __name__ == "__main__":
    serve("\0" + sys.argv[1], bytes.fromhex(sys.argv[2]))
