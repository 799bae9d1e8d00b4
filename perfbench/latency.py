"""Micro-batch progress parsing and the latency arithmetic, kept free of
Spark so the benchmark's tests can check it on synthetic progress.

A batch's commit end is its progress ``timestamp`` (trigger start) plus
``durationMs.triggerExecution``. Which batch consumed an entry comes
from ``sources[].startOffset``/``endOffset``: the entry belongs to the
batch whose (start, end] range on its stream holds its id. The Python
data source reports those offsets as a Python-repr dict string, not
JSON, so both forms are accepted.
"""

from __future__ import annotations

import ast
import bisect
import json
import math
from dataclasses import dataclass
from datetime import datetime
from typing import Any, Iterable, Sequence

from .standin import parse_id


@dataclass(frozen=True)
class Batch:
    batch_id: int
    start_s: float  # trigger start, epoch seconds
    durations_ms: dict[str, float]
    start_offsets: dict[str, str]
    end_offsets: dict[str, str]
    num_input_rows: int

    @property
    def trigger_s(self) -> float:
        return self.durations_ms.get("triggerExecution", 0.0) / 1000.0

    @property
    def commit_end_s(self) -> float:
        return self.start_s + self.trigger_s


def parse_offsets(raw: Any) -> dict[str, str]:
    if raw is None:
        return {}
    if isinstance(raw, dict):
        return {str(k): str(v) for k, v in raw.items()}
    try:
        val = json.loads(raw)
    except (TypeError, ValueError):
        val = ast.literal_eval(raw)
    return {str(k): str(v) for k, v in val.items()} if isinstance(val, dict) else {}


def parse_timestamp(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC, e.g. 2026-10-16T18:00:00.123Z."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def parse_progress(progress: dict) -> Batch:
    """One ``StreamingQueryProgress`` (as its JSON dict) -> Batch; offsets of
    every source are merged (stream names are unique across sources)."""
    start: dict[str, str] = {}
    end: dict[str, str] = {}
    for src in progress.get("sources", []):
        start.update(parse_offsets(src.get("startOffset")))
        end.update(parse_offsets(src.get("endOffset")))
    return Batch(
        batch_id=int(progress["batchId"]),
        start_s=parse_timestamp(progress["timestamp"]),
        durations_ms={k: float(v) for k, v in (progress.get("durationMs") or {}).items()},
        start_offsets=start,
        end_offsets=end,
        num_input_rows=int(progress.get("numInputRows", 0)),
    )


def data_batches(progresses: Iterable[dict]) -> list[Batch]:
    """Batches that consumed input, by batch id, last report per id."""
    by_id: dict[int, Batch] = {}
    for p in progresses:
        b = parse_progress(p)
        if b.num_input_rows > 0:
            by_id[b.batch_id] = b
    return [by_id[k] for k in sorted(by_id)]


class BatchIndex:
    """Maps (stream, entry id) to the batch that consumed it."""

    def __init__(self, batches: Sequence[Batch]) -> None:
        self.batches = list(batches)
        self._ends: dict[str, list[tuple[tuple[int, int], int]]] = {}
        for i, b in enumerate(self.batches):
            for stream, end in b.end_offsets.items():
                start = b.start_offsets.get(stream, "0-0")
                if parse_id(end) > parse_id(start):
                    self._ends.setdefault(stream, []).append((parse_id(end), i))
        for v in self._ends.values():
            v.sort()

    def batch_of(self, stream: str, entry_id: str) -> Batch | None:
        ends = self._ends.get(stream)
        if not ends:
            return None
        t = parse_id(entry_id)
        k = bisect.bisect_left(ends, (t, -1))
        if k == len(ends):
            return None
        b = self.batches[ends[k][1]]
        if parse_id(b.start_offsets.get(stream, "0-0")) < t:
            return b
        return None


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        return math.nan
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def event_latencies(
    index: BatchIndex, created: Iterable[tuple[str, str, float]]
) -> tuple[list[float], int]:
    """Seconds from each entry's creation stamp to the commit end of the
    batch that consumed it. ``created``: (stream, entry id, created epoch
    s). Returns (latencies, entries no committed batch consumed)."""
    out: list[float] = []
    missing = 0
    for stream, rid, created_s in created:
        b = index.batch_of(stream, rid)
        if b is None:
            missing += 1
        else:
            out.append(b.commit_end_s - created_s)
    return out, missing
