"""Tracing for the ``--trace 1`` run: spans recorded around the calls the
benchmark makes into each layer, and the Spark event log aggregated per
unit of work (micro-batch or query).

Spans are kept in memory and written out when the run ends. Wrappers
are installed only in traced runs and removed afterwards, so untraced
runs execute the program unmodified.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner: Any, attr: str, name: str | Callable[..., str]) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper; ``name``
        may derive the span name from the call's arguments."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args: Any, **kw: Any) -> Any:
            label = name(*args, **kw) if callable(name) else name
            with self.span(label):
                return orig(*args, **kw)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name and s.end]

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


@dataclass
class UnitStats:
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    first_submit_ms: float = float("inf")
    last_end_ms: float = 0.0


def _log_lines(log_dir: str) -> Iterator[dict]:
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path) or name.startswith("."):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:  # truncated tail of a live log
                    continue


def event_log_units(log_dir: str, unit_of: Callable[[dict], str | None]) -> dict[str, UnitStats]:
    """Jobs, stages, tasks, task seconds and shuffle bytes written, grouped
    by ``unit_of(SparkListenerJobStart event)`` (None drops the job)."""
    units: dict[str, UnitStats] = defaultdict(UnitStats)
    stage_unit: dict[int, str] = {}
    job_unit: dict[int, str] = {}
    for e in _log_lines(log_dir):
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            unit = unit_of(e)
            if unit is None:
                continue
            u = units[unit]
            u.jobs += 1
            u.first_submit_ms = min(u.first_submit_ms, e.get("Submission Time", u.first_submit_ms))
            job_unit[e["Job ID"]] = unit
            for sid in e.get("Stage IDs", []):
                stage_unit[sid] = unit
        elif ev == "SparkListenerJobEnd":
            unit = job_unit.get(e.get("Job ID"))
            if unit is not None:
                units[unit].last_end_ms = max(units[unit].last_end_ms, e.get("Completion Time", 0))
        elif ev == "SparkListenerTaskEnd":
            unit = stage_unit.get(e.get("Stage ID"))
            if unit is None:
                continue
            u = units[unit]
            tm = e.get("Task Metrics") or {}
            u.stages.add(e["Stage ID"])
            u.tasks += 1
            u.task_s += (tm.get("Executor Run Time", 0) or 0) / 1000.0
            u.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) or 0
    return dict(units)
