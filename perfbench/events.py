"""Debezium event synthesis for the watch workloads: the routing config,
deterministic payloads from a workload seed, bulk preload, and the
open-loop generator.

Every payload is a compact envelope (one field whose value is the
Debezium JSON). ``after`` carries the mapped id column and
``created_us``, the time the entry was due to be created, which the
latency metric reads back.
"""

from __future__ import annotations

import itertools
import json
import random
import threading
import time
from typing import Any

SOURCE_PREFIX = "m2.m2."
TARGET_PREFIX = "target."

# table -> (id column, targets): fan-out 4/2/3/1 onto 7 distinct targets,
# shaped like the reference's shipped config.yaml.
ROUTING: dict[str, tuple[str, tuple[str, ...]]] = {
    "catalog_product_entity": (
        "entity_id",
        ("catalog_product_flat", "catalog_category_product", "catalog_product_price", "search_index"),
    ),
    "catalog_category_entity": ("entity_id", ("catalog_category_flat", "catalog_category_product")),
    "cataloginventory_stock_item": (
        "product_id",
        ("catalog_product_flat", "inventory_stock", "search_index"),
    ),
    "sales_order_item": ("product_id", ("sales_report",)),
}

def config_yaml(source_size: int) -> str:
    lines = [
        "source:",
        "  format: compact",
        f'  prefix: "{SOURCE_PREFIX}"',
        "  group: cdc",
        "  consumer: cdc",
        "  acknowledge: simple",
        "buffers:",
        f"  source: {{size: {source_size}, time: 1000}}",
        "  dedupe: {size: 100000, time: 5000}",
        "  target: {size: 1000, time: 1000}",
        "target:",
        f'  prefix: "{TARGET_PREFIX}"',
        "mapping:",
    ]
    for table, (col, targets) in ROUTING.items():
        lines += [f"  {table}:", f"    {col}:"] + [f"      - {t}" for t in targets]
    return "\n".join(lines) + "\n"


def source_streams() -> list[str]:
    return [SOURCE_PREFIX + t for t in ROUTING]


def target_streams() -> list[str]:
    seen: dict[str, None] = {}
    for _, targets in ROUTING.values():
        for t in targets:
            seen.setdefault(TARGET_PREFIX + t, None)
    return list(seen)


class PayloadMaker:
    """Deterministic entry payloads for one workload seed: ids uniform over
    ``spec["key_space"]``, drawn from ``spec["seed"]``. Streams take turns
    so each tick spreads evenly."""

    def __init__(self, spec: dict[str, Any]) -> None:
        self.rng = random.Random(spec["seed"])
        self.key_space = spec["key_space"]
        self.tables = list(ROUTING)
        self._turn = itertools.cycle(range(len(self.tables)))

    def next(self, created_us: int) -> tuple[str, dict[str, str]]:
        """(source stream, entry fields) of the next event."""
        table = self.tables[next(self._turn)]
        after = {ROUTING[table][0]: self.rng.randint(1, self.key_space), "created_us": created_us}
        return SOURCE_PREFIX + table, {"key": json.dumps({"before": None, "after": after})}


def preload(store, spec: dict[str, Any], n_per_stream: int) -> int:
    """Append ``n_per_stream`` entries to every source stream at once."""
    maker = PayloadMaker(spec)
    now_us = time.time_ns() // 1000
    n = n_per_stream * len(ROUTING)
    for _ in range(n):
        stream, fields = maker.next(now_us)
        store.xadd(stream, fields)
    return n


class OpenLoopGenerator:
    """Appends ``rate × tick_s`` events per tick at fixed due times
    ``t0 + k·tick_s``, whatever the pipeline is doing: a late tick is
    appended as soon as possible and the next one stays on schedule.
    Each entry is stamped with its tick's due time."""

    def __init__(self, store, lock: threading.Lock, spec: dict, rate: float, tick_s: float) -> None:
        self.store, self.lock = store, lock
        self.maker = PayloadMaker(spec)
        self.per_tick = max(1, round(rate * tick_s))
        self.tick_s = tick_s
        self.lateness_s: list[float] = []
        self.events = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self.t0 = time.time()
        self._thread.start()

    def _loop(self) -> None:
        k = 0
        while not self._stop.is_set():
            due = self.t0 + k * self.tick_s
            wait = due - time.time()
            if wait > 0 and self._stop.wait(wait):
                return
            due_us = int(due * 1e6)
            with self.lock:
                for _ in range(self.per_tick):
                    stream, fields = self.maker.next(due_us)
                    self.store.xadd(stream, fields)
            self.lateness_s.append(time.time() - due)
            self.events += self.per_tick
            k += 1

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=10)
        late = sorted(self.lateness_s)
        return {
            "ticks": len(late),
            "events": self.events,
            "late_p50_s": late[len(late) // 2] if late else 0.0,
            "late_max_s": late[-1] if late else 0.0,
        }
