"""Routing config loader — the engine's "query language" (C1).

Same record shapes and semantics as the reference's ConfigParser
(ConfigParser.java:16-62): YAML or JSON chosen by file extension, a
``source``/``buffers``/``target`` header plus the table→column→[targets]
routing map. ``acknowledge`` defaults to ``simple`` (ConfigParser.java:31-34).

Extra validation the reference lacks (SURVEY.md §2A fine print): source and
target prefixes must be disjoint, otherwise targets can feed back into
source streams (the latent config.json misconfig in the reference).
"""

from __future__ import annotations

import json
import warnings
from dataclasses import dataclass, field
from pathlib import Path

import yaml


@dataclass(frozen=True)
class BufferSpec:
    size: int
    time: int  # milliseconds


@dataclass(frozen=True)
class Buffers:
    source: BufferSpec = BufferSpec(1000, 1000)
    dedupe: BufferSpec = BufferSpec(100_000, 5000)
    target: BufferSpec = BufferSpec(1000, 1000)


@dataclass(frozen=True)
class SourceConfig:
    format: str = "compact"  # declared; detection is per-record like the reference
    prefix: str = ""
    group: str = "cdc"
    consumer: str = "cdc"
    acknowledge: str = "simple"  # simple | delete


@dataclass(frozen=True)
class TargetConfig:
    prefix: str = ""


@dataclass(frozen=True)
class Config:
    source: SourceConfig
    buffers: Buffers
    target: TargetConfig
    # table -> column -> [targets]
    mapping: dict[str, dict[str, list[str]]] = field(default_factory=dict)

    def targets(self) -> list[str]:
        """Distinct targets in stable order (WatchStream.java:144-157 builds
        one sink per distinct target)."""
        seen: dict[str, None] = {}
        for columns in self.mapping.values():
            for tgts in columns.values():
                for t in tgts:
                    seen.setdefault(t, None)
        return list(seen)


def _buffer(d: dict | None, default: BufferSpec) -> BufferSpec:
    if not d:
        return default
    return BufferSpec(size=int(d.get("size", default.size)), time=int(d.get("time", default.time)))


def load_config(path: str | Path) -> Config:
    """JSON or YAML by extension (ConfigParser.java:55-62)."""
    path = Path(path)
    text = path.read_text()
    raw = json.loads(text) if path.suffix == ".json" else yaml.safe_load(text)
    if not isinstance(raw, dict):
        raise ValueError(
            f"config file {path} is empty or not a mapping "
            f"(parsed as {type(raw).__name__})"
        )
    src = raw.get("source", {}) or {}
    buf = raw.get("buffers", {}) or {}
    tgt = raw.get("target", {}) or {}
    ack = str(src.get("acknowledge", "simple"))
    if ack not in ("simple", "delete"):
        # Coerce to the conservative mode (nothing is ever deleted on a
        # typo) but say so loudly — silently "working" while the operator
        # believes delete-mode is pruning the source would let the source
        # streams grow unbounded (format below warns too).
        warnings.warn(
            f"source.acknowledge={ack!r} is not one of ('simple', 'delete'); "
            "falling back to 'simple' — source entries will NOT be deleted",
            stacklevel=2,
        )
        ack = "simple"
    fmt = str(src.get("format", "compact"))
    if fmt not in ("compact", "extended"):
        # The knob is declarative only — decode detects per record, like the
        # reference (declared config.yaml:3, ignored RedisSource.java:58) —
        # but an unknown value is certainly a typo, so say so instead of
        # silently carrying it (per-record disagreement with the knob warns
        # in streaming/pipeline.py).
        warnings.warn(
            f"source.format={fmt!r} is not one of ('compact', 'extended'); "
            "record format is detected per record regardless",
            stacklevel=2,
        )
    cfg = Config(
        source=SourceConfig(
            format=fmt,
            prefix=str(src.get("prefix", "")),
            group=str(src.get("group", "cdc")),
            consumer=str(src.get("consumer", "cdc")),
            acknowledge=ack,
        ),
        buffers=Buffers(
            source=_buffer(buf.get("source"), BufferSpec(1000, 1000)),
            dedupe=_buffer(buf.get("dedupe"), BufferSpec(100_000, 5000)),
            target=_buffer(buf.get("target"), BufferSpec(1000, 1000)),
        ),
        target=TargetConfig(prefix=str(tgt.get("prefix", ""))),
        mapping={
            # A scalar target is the obvious shorthand for a one-target
            # list; without the guard a string char-splits into one-letter
            # targets.
            str(tbl): {
                str(col): [str(t) for t in ([tgts] if isinstance(tgts, str) else tgts)]
                for col, tgts in cols.items()
            }
            for tbl, cols in (raw.get("mapping", {}) or {}).items()
        },
    )
    _validate(cfg)
    return cfg


def _validate(cfg: Config) -> None:
    # target.size divides the packing row number (plans/watch_plan.py); 0
    # would be DIVIDE_BY_ZERO on every non-empty batch under ANSI mode.
    # source.size=0 is meaningful (unbounded admission) and stays legal.
    if cfg.buffers.target.size < 1:
        raise ValueError(
            f"buffers.target.size must be >= 1, got {cfg.buffers.target.size}"
        )
    if cfg.buffers.source.size < 0 or cfg.buffers.dedupe.size < 0:
        raise ValueError("buffer sizes must be non-negative")
    sp, tp = cfg.source.prefix, cfg.target.prefix
    # No `if sp and tp` guard: empty prefixes (the defaults) are exactly
    # when a target name can equal a source table name outright — the
    # feedback loop this validator exists to block.
    for tbl in cfg.mapping:
        for tgt in cfg.targets():
            if f"{tp}{tgt}" == f"{sp}{tbl}":
                raise ValueError(
                    f"target stream {tp}{tgt!r} collides with source stream "
                    f"{sp}{tbl!r}; output would feed back into the source "
                    "(latent misconfig in the reference's config.json)"
                )
