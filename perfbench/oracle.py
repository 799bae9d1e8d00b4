"""Pure-Python reference for one watch micro-batch, and the checks that
compare it with what the pipeline wrote.

Reference semantics (plans/watch_plan.py): decode the compact or
extended envelope, extract ``after.<column>`` as an int32 (anything
else makes the entry dead), fan out over the routing map, keep the first
copy per (target, id) ordered by (ms, seq, stream, offset), and pack each
target's survivors in that order into JSON arrays of at most
``target_size`` ids. Every entry of a routed stream is acked, dead ones
included.
"""

from __future__ import annotations

import json
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path
from typing import Iterable, Mapping, Sequence

from .standin import parse_id

INT32 = (-(2**31), 2**31 - 1)


@dataclass
class Expected:
    packed: Counter = field(default_factory=Counter)  # (target, ids json) -> n
    dead: set = field(default_factory=set)  # (stream, offset, id_column, payload)
    acks: set = field(default_factory=set)  # (stream, offset)
    routed: int = 0  # fan-out copies of good entries
    survivors: int = 0


def _payload(fields: Mapping[str, str]) -> str | None:
    if len(fields) == 1:
        return next(iter(fields.values()))
    return fields.get("value")


def extract_id(payload: str | None, column: str) -> int | None:
    if payload is None:
        return None
    try:
        doc = json.loads(payload)
    except ValueError:
        return None
    after = doc.get("after") if isinstance(doc, dict) else None
    if not isinstance(after, dict):
        return None
    v = after.get(column)
    if isinstance(v, bool) or v is None:
        return None
    try:
        n = int(v)
    except (TypeError, ValueError):
        return None
    return n if INT32[0] <= n <= INT32[1] else None


def expected_batch(
    entries: Iterable[tuple[str, str, Mapping[str, str]]],
    routing: Mapping[str, Sequence[tuple[str, str]]],
    target_size: int,
) -> Expected:
    """``entries``: (stream, offset, fields) of one micro-batch.
    ``routing``: source stream -> [(id column, target stream)]."""
    exp = Expected()
    first: dict[tuple[str, int], tuple] = {}
    for stream, offset, fields in entries:
        routes = routing.get(stream)
        if not routes:
            continue
        exp.acks.add((stream, offset))
        payload = _payload(fields)
        ms, seq = parse_id(offset)
        bad_cols = set()
        for col, target in routes:
            eid = extract_id(payload, col)
            if eid is None:
                bad_cols.add(col)
                continue
            exp.routed += 1
            key = (target, eid)
            order = (ms, seq, stream, offset)
            if key not in first or order < first[key]:
                first[key] = order
        if bad_cols:
            exp.dead.add((stream, offset, ",".join(sorted(bad_cols)), payload))
    exp.survivors = len(first)
    per_target: dict[str, list[tuple]] = {}
    for (target, eid), order in first.items():
        per_target.setdefault(target, []).append((order, eid))
    for target, rows in per_target.items():
        rows.sort()
        ids = [eid for _, eid in rows]
        for i in range(0, len(ids), target_size):
            exp.packed[(target, json.dumps(ids[i : i + target_size], separators=(",", ":")))] += 1
    return exp


@dataclass
class Actual:
    packed: Counter = field(default_factory=Counter)
    dead: set = field(default_factory=set)
    acks: set = field(default_factory=set)


def _json_lines(root: Path, batch_id: int):
    """(partition value, row) for every line of every ``b{batchId}-*``
    file under a hive-partitioned sink directory."""
    if not root.exists():
        return
    for part_dir in root.iterdir():
        if not part_dir.is_dir() or "=" not in part_dir.name:
            continue
        value = part_dir.name.split("=", 1)[1]
        for f in part_dir.glob(f"b{batch_id}-*"):
            for line in f.read_text().splitlines():
                if line.strip():
                    yield value, json.loads(line)


def read_file_sinks(work: Path, batch_id: int) -> Actual:
    act = Actual()
    for target, row in _json_lines(work / "targets", batch_id):
        act.packed[(target, row["ids"])] += 1
    for stream, row in _json_lines(work / "dead", batch_id):
        act.dead.add((stream, row["offset"], row.get("id_column"), row.get("payload")))
    for stream, row in _json_lines(work / "acks", batch_id):
        act.acks.add((stream, row["offset"]))
    return act


def failed_entries(
    entries: Sequence[tuple[str, str, Mapping[str, str]]],
    routing: Mapping[str, Sequence[tuple[str, str]]],
    exp: Expected,
    act: Actual,
    source_acked: set[tuple[str, str]],
) -> set[tuple[str, str]]:
    """Entries of one batch whose packed output, dead letter or ack is
    wrong or missing. ``source_acked``: (stream, offset) the source side
    acknowledged (XACK under the consumer group)."""
    bad: set[tuple[str, str]] = set()
    wrong_targets = {
        t for t, _ in (exp.packed - act.packed) + (act.packed - exp.packed)
    }
    dead_keys = {(s, o) for s, o, *_ in exp.dead ^ act.dead}
    for stream, offset, _fields in entries:
        key = (stream, offset)
        routes = routing.get(stream, ())
        if any(t in wrong_targets for _, t in routes):
            bad.add(key)
        if key in dead_keys:
            bad.add(key)
        if routes and (key not in act.acks or key not in source_acked):
            bad.add(key)
    reached = {t for s, _, _ in entries for _, t in routing.get(s, ())}
    bad |= {("<packed>", t) for t in wrong_targets - reached}
    # Output rows that belong to no entry of this batch.
    stray = {(s, o) for s, o, *_ in act.dead} | act.acks
    bad |= stray - {(s, o) for s, o, _ in entries}
    return bad
